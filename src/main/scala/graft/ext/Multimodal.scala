package graft.ext

import graft.{Materialize, Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) as opaque
  * `binary` columns with typed metadata, processed in batched
  * per-partition passes — the Scala analog of `mapInPandas` (an iterator
  * of batches in, an iterator of batches out; the runtime never
  * materializes a whole partition).
  *
  * The decode is REAL for the raster formats the JDK ships codecs for
  * (PNG/JPEG/GIF/BMP via `javax.imageio`, zero external dependencies):
  * format sniffed from magic bytes, then width/height/mean-luma from the
  * decoded pixels. For everything else (audio/video containers — no codec
  * in a bare JVM) `decodeStub` remains the clearly-marked DETERMINISTIC
  * FAKE fallback, so the pipeline stays total and testable end-to-end.
  *
  * Scale notes: media blobs dominate row size; the pipeline keeps them in
  * a single projected binary column (parquet reads it lazily), never
  * groups or shuffles on blob bytes (only on ids/fingerprints), and all
  * feature extraction is a map-only stage.
  */
object Multimodal {

  /** Typed metadata for a decoded media object. */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      mean_luma: Double)

  /** Magic-byte format sniff for the raster formats `javax.imageio` can
    * decode. Returns None for anything else (text blobs, audio/video). */
  def detectImageFormat(bytes: Array[Byte]): Option[String] =
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') Some("png")
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
             (bytes(1) & 0xff) == 0xd8) Some("jpeg")
    else if (bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
             bytes(2) == 'F' && bytes(3) == '8') Some("gif")
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') Some("bmp")
    else None

  /** REAL media decode for JDK-supported raster images: dimensions from
    * the decoded raster, mean luma as Rec.601 luminance over all pixels.
    * Falls back to `decodeStub` when the blob is not a decodable image
    * (wrong magic, truncated file, or a format the JVM has no codec for),
    * so the batched pipeline never throws on dirty data — the production
    * posture for a 100 TB crawl where a fraction of blobs is always
    * corrupt. */
  def decode(id: Long, bytes: Array[Byte]): MediaFeatures =
    detectImageFormat(bytes) match {
      case Some(fmt) =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) decodeStub(id, bytes)
        else {
          val w = img.getWidth
          val h = img.getHeight
          // bulk row reads: per-pixel getRGB pays ColorModel dispatch per
          // call, which dominates decode on megapixel images in the
          // batched hot path — one packed-ARGB row fetch amortizes it
          val row = new Array[Int](w)
          var lumaSum = 0.0
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val rgb = row(x)
              lumaSum += 0.299 * ((rgb >> 16) & 0xff) +
                0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
              x += 1
            }
            y += 1
          }
          MediaFeatures(id, bytes.length, fmt, w, h, lumaSum / (w.toLong * h))
        }
      case None => decodeStub(id, bytes)
    }

  /** DETERMINISTIC FAKE fallback for blobs without a JVM codec: a real
    * implementation would parse the container and decode frames. This one
    * derives stable pseudo-features from the byte content so the pipeline
    * is testable end-to-end on any blob. */
  def decodeStub(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val h = scala.util.hashing.MurmurHash3.bytesHash(bytes, 42)
    val lumaSum = bytes.foldLeft(0L)((a, b) => a + (b & 0xff))
    MediaFeatures(
      doc_id = id,
      n_bytes = bytes.length,
      format = if ((h & 1) == 0) "png" else "jpeg",
      width = 64 + math.floorMod(h, 960),
      height = 64 + math.floorMod(h >> 10, 960),
      mean_luma = if (bytes.isEmpty) 0.0 else lumaSum.toDouble / bytes.length)
  }

  /** Batched feature extraction over a (id, blob) dataset — iterator in,
    * iterator out, `grouped(batchSize)` giving the arrow-batch shape. */
  def extractFeatures(blobs: Dataset[(Long, Array[Byte])], batchSize: Int = 256): Dataset[MediaFeatures] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { case (id, bytes) => decode(id, bytes) }
      }
    }
  }

  /** `documents.text` encoded to UTF-8 bytes plays the media blob. */
  def blobTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("media"))

  /** x11: the full pipeline — binary column in, byte-level metadata via
    * native expressions, decoded features via the batched stub. Rows-only
    * driver check (feature values hinge on the stub); MultimodalSpec
    * pins determinism and batch behavior. */
  val pipeline = Q(
    "x11_multimodal_features",
    "binary media column → batched decode → typed features")(
    (s, dir) => {
      import s.implicits._
      val blobs = blobTable(s, dir).as[(Long, Array[Byte])]
      val feats = extractFeatures(blobs)
      val meta = blobTable(s, dir).select(
        col("doc_id"),
        octet_length(col("media")).as("blob_bytes"),
        hex(substring(col("media"), 1, 8)).as("header_hex"))
      meta.join(feats.toDF(), "doc_id")
        .select(col("doc_id"), col("blob_bytes"), col("header_hex"),
          col("format"), col("width"), col("height"), col("mean_luma"))
        .orderBy(col("doc_id"))
    })

  /** x192 frame geometry — ONE pair of constants interpolated into the
    * Spark form AND the oracle SQL (stride in bytes between frames;
    * header bytes sliced per frame), so the two can never desynchronize. */
  val FrameStride = 64
  val FrameHeader = 16

  /** Frame-sampling analog on the byte axis: every k-th header slice of
    * the blob, as (doc_id, frame_no, frame_hex) — the explode-shaped
    * transform a video pipeline needs. */
  def sampleFrames(blobs: DataFrame, stride: Int = FrameStride,
      header: Int = FrameHeader): DataFrame = {
    val nFrames = floor(octet_length(col("media")) / stride).cast("int")
    blobs
      .withColumn("frame_no", explode(sequence(lit(0), greatest(nFrames - 1, lit(0)))))
      .select(col("doc_id"), col("frame_no"),
        hex(col("media").substr(col("frame_no") * stride + 1, lit(header))).as("frame_hex"))
  }

  /** 64-bit average-hash (aHash) — the classic perceptual image
    * fingerprint: 8×8 grid of block-mean lumas, each bit = "block above
    * the global mean". Near-identical images (recompress, small edits,
    * resize) flip only a few bits, so near-dup detection is a small
    * Hamming ball around each hash. Decodable rasters hash their PIXEL
    * lumas over integer-arithmetic block boundaries (resize-free — the
    * 8×8 "resize" IS the block-mean grid); non-image blobs fall back to
    * the same thresholding over a 64-bucket histogram of hashed byte
    * 4-GRAMS — shift-robust (an edit moves only the buckets of the
    * ≤ 7 grams it touches; equal byte SLICES were tried first and
    * realign wholesale on one insertion) yet content-discriminating
    * (unrelated blobs draw different gram sets, so ~half the bits
    * disagree; a plain byte-VALUE histogram was tried second and
    * collapsed a same-vocabulary corpus into one hash). Byte-identical
    * blobs collide exactly; the pipeline stays total on dirty data. */
  def aHash(bytes: Array[Byte]): Long = {
    val means: Array[Double] = detectImageFormat(bytes).flatMap { _ =>
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.map { im =>
        val w = im.getWidth; val h = im.getHeight
        val sums = new Array[Double](64)
        val cnts = new Array[Long](64)
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          im.getRGB(0, y, w, 1, row, 0, w)
          val by = (y.toLong * 8 / h).toInt
          var x = 0
          while (x < w) {
            val rgb = row(x)
            val luma = 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            val b = by * 8 + (x.toLong * 8 / w).toInt
            sums(b) += luma; cnts(b) += 1
            x += 1
          }
          y += 1
        }
        Array.tabulate(64)(i => if (cnts(i) == 0) 0.0 else sums(i) / cnts(i))
      }
    }.getOrElse {
      // bag-of-4-grams fallback: 64-bucket histogram of hashed byte 4-grams
      val counts = new Array[Double](64)
      var j = 0
      while (j + 3 < bytes.length) {
        var h = 0
        var k = 0
        while (k < 4) { h = h * 131 + (bytes(j + k) & 0xff); k += 1 }
        counts((h * 0x9E3779B1 >>> 26) & 63) += 1
        j += 1
      }
      counts
    }
    val mean = means.sum / 64
    var bits = 0L
    var i = 0
    while (i < 64) { if (means(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Bands for the Hamming-ball candidate join: 4 bands × 16 bits —
    * by pigeonhole, any pair within Hamming distance ≤ 3 shares at
    * least one exact band, so banded candidates are COMPLETE for the
    * [[MaxHamming]] verify threshold. */
  private val PhashBands = 4
  private val MaxHamming = 3L

  /** x133: perceptual near-dup image pairs over the media column —
    * aHash per blob (batched map, blobs never shuffled), then the x3
    * SimHash plan shape: 4 exact band keys per hash, candidates =
    * band-mates, verified by exact Hamming distance ≤ [[MaxHamming]]
    * via bit_count(xor). No oracle by design (the decode cannot run in
    * SQL); MultimodalSpec pins the hash on crafted REAL PNGs (one-pixel
    * edit → few bits flip → pair found; distinct images → no pair) and
    * byte-identical blobs at distance 0. */
  /** Banded Hamming-ball pair join over a (doc_id, ah) hash table —
    * candidates share an exact 16-bit band, verified by bit_count(xor). */
  private[graft] def phashPairs(hashes: DataFrame): DataFrame = {
    val banded = hashes.withColumn("band", explode(array(
        (0 until PhashBands).map(b =>
          struct(lit(b).as("b"),
            expr(s"shiftright(ah, ${b * 16}) & 65535").as("key"))): _*)))
      .select(col("doc_id"), col("ah"), col("band.b").as("b"),
        col("band.key").as("key"))
    banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.key") === col("y.key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.ah ^ y.ah)").cast("long").as("hamming"))
      .distinct() // a pair may share several bands
      .filter(col("hamming") <= MaxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val phashDedup = Q(
    "x133_image_phash_dedup",
    "perceptual aHash near-dup pairs over the media column (banded Hamming join)")(
    (s, dir) => {
      import s.implicits._
      val hashes = blobTable(s, dir).as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) => (id, aHash(bytes)) })
        .toDF("doc_id", "ah")
      phashPairs(hashes)
    })

  /** x192: the frame-sampling transform REGISTERED and fully oracled —
    * the explode-shaped video-pipeline step ([[sampleFrames]], until now
    * spec-only): every 64-byte "frame" of the binary media column yields
    * its 16-byte header slice as hex. Unlike x11/x133 (whose features
    * hinge on raster decode), frame geometry is pure byte arithmetic, so
    * this member of the multimodal family gets a DuckDB oracle: DuckDB
    * cannot slice BLOBs, but slicing the HEX STRING is byte-precise at
    * aligned offsets (byte k ↔ hex chars 2k, 2k+1) — the Spark side
    * keeps the binary-native form (`substr` on BinaryType), the oracle
    * slices `hex(media)`, and the two agree exactly at every 64-byte
    * frame boundary.
    *
    * Scale shape: a pure map+explode (zero shuffles, zero joins) — the
    * blob never moves, each output row is 16 bytes of it; at 100 TB the
    * transform runs at scan speed with output bounded by
    * (blob bytes)/4. Short blobs (< one stride) still emit frame 0 with
    * whatever header bytes exist — the pipeline stays total. */
  val frameSample = Q.withOracle(
    "x192_frame_sample",
    s"x192: stride-$FrameStride frame sampling over the binary media column ($FrameHeader-byte header slice per frame, pure map+explode)",
    s"""WITH b AS (
      |  SELECT doc_id, encode(text) AS media FROM documents),
      |f AS (
      |  SELECT doc_id, hex(media) AS mhex,
      |    unnest(generate_series(0,
      |      greatest(CAST(octet_length(media) // $FrameStride AS INT) - 1, 0))) AS frame_no
      |  FROM b)
      |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
      |  substring(mhex, CAST(frame_no * ${FrameStride * 2} + 1 AS INT), ${FrameHeader * 2}) AS frame_hex
      |FROM f ORDER BY doc_id, frame_no""".stripMargin)(
    (s, dir) =>
      sampleFrames(blobTable(s, dir))
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
          col("frame_hex"))
        .orderBy(col("doc_id"), col("frame_no")))

  /** Boilerplate guard for x192b: a frame signature shared by more than
    * this many documents (container headers, black frames, injected
    * intros) is dropped from every doc's frame set before pairing — the
    * hub-cap posture the dedup family uses everywhere (a k-doc hub frame
    * would otherwise witness k² candidate pairs). */
  val FrameDfCap = 32

  /** The x192b pair pipeline over an arbitrary (doc_id, media) blob
    * frame — shared by the registered query and MultimodalSpec's
    * planted-copy / signature-identity pins. */
  private[graft] def frameNearDupPairs(blobs: DataFrame): DataFrame = {
    val fr = sampleFrames(blobs)
      .select(col("doc_id"),
        conv(substring(md5(col("frame_hex")), 1, 15), 16, 10)
          .cast("long").as("sig"))
      .distinct()
    // document frequency via a window over the sig key (one sig-keyed
    // shuffle; the self-join below reuses the same partitioning)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sig"))
    val frk = fr.withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= FrameDfCap)
      .select(col("doc_id"), col("sig"))
      .materialized // read by the size agg and both join sides
    val n = frk.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n"))
    val p = frk.as("a").join(frk.as("b"),
        col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
    val jac = col("n_common").cast("double") /
      (col("n_a") + col("n_b") - col("n_common")).cast("double")
    p.join(n.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"),
        col("n_b"), jac.as("jac"))
      .filter(col("jac") >= Dedup.JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** x192b: frame-level near-dup pairs over the binary media column —
    * the multimodal family's first fully-ORACLED dedup member (r15
    * verdict board #4; x11/x133 stay spec-carried because raster decode
    * cannot run in SQL). x192 proved frame geometry is byte-exact across
    * engines via hex-string arithmetic; here each frame's 16-byte header
    * slice is fingerprinted with the repo's cross-engine md5 lane
    * (x2's portable family: both engines parse the first 15 hex chars
    * into the same BIGINT), docs become distinct-signature sets, and
    * near-dups are x4's exact-Jaccard semantics at the frame grain —
    * candidates generated ONLY by the sig-keyed equi-join (bucket-mates,
    * never all-pairs), [[FrameDfCap]] dropping boilerplate hub frames.
    *
    * Scale shape: map+explode (x192) → one (doc, sig) distinct → one
    * sig-keyed window + co-partitioned self-join → per-pair and per-doc
    * hash aggs. Blobs never shuffle (only ids and 64-bit signatures);
    * pair volume is bounded by the df cap; every shuffle key is a
    * signature or doc id. At video scale this is the "same intro
    * sequence, re-encoded container" detector run before expensive
    * perceptual hashing. */
  /** The x192b oracle CTE chain ending in `fp` (the verified frame-level
    * near-dup pairs) — shared by x192b and x192c so the survivor view
    * can never drift from the pair relation it clusters. */
  private def frameCtes: String =
    s"""b AS (
       |  SELECT doc_id, encode(text) AS media FROM documents),
       |f AS (
       |  SELECT doc_id, hex(media) AS mhex,
       |    unnest(generate_series(0,
       |      greatest(CAST(octet_length(media) // $FrameStride AS INT) - 1, 0))) AS frame_no
       |  FROM b),
       |fr AS (
       |  SELECT DISTINCT doc_id,
       |    ('0x' || substr(md5(substring(mhex,
       |      CAST(frame_no * ${FrameStride * 2} + 1 AS INT), ${FrameHeader * 2})), 1, 15))::BIGINT AS sig
       |  FROM f),
       |dfc AS (SELECT sig, CAST(COUNT(*) AS BIGINT) AS df FROM fr GROUP BY 1),
       |frk AS (SELECT fr.doc_id, fr.sig FROM fr JOIN dfc USING (sig)
       |        WHERE dfc.df <= $FrameDfCap),
       |nn AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM frk GROUP BY 1),
       |pp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_common
       |  FROM frk a JOIN frk b ON a.sig = b.sig AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |fp AS (
       |  SELECT pp.doc_a, pp.doc_b, pp.n_common, na.n AS n_a, nb.n AS n_b,
       |    CAST(pp.n_common AS DOUBLE) / (na.n + nb.n - pp.n_common) AS jac
       |  FROM pp
       |  JOIN nn na ON pp.doc_a = na.doc_id
       |  JOIN nn nb ON pp.doc_b = nb.doc_id
       |  WHERE CAST(pp.n_common AS DOUBLE) / (na.n + nb.n - pp.n_common)
       |    >= ${Dedup.JaccardThreshold})""".stripMargin

  val frameNearDup = Q.withOracle(
    "x192b_frame_neardup",
    s"x192b: frame-signature near-dup pairs (md5-lane sig per $FrameHeader-byte header, df-capped sig join, exact Jaccard >= ${Dedup.JaccardThreshold})",
    s"""WITH $frameCtes
       |SELECT doc_a, doc_b, n_common, n_a, n_b, jac
       |FROM fp ORDER BY doc_a, doc_b""".stripMargin)(
    (s, dir) => frameNearDupPairs(blobTable(s, dir)))

  /** x192c: the per-doc SURVIVOR decision over the frame-level near-dup
    * relation — x48's composition (connected components, min-id survivor
    * per cluster) applied to x192b's pairs, completing the multimodal
    * dedup family's measure → pair → act chain as fully-oracled
    * members. The pair graph is ≪ corpus (near-dup mass only, df-capped
    * by construction), so the CC loop — x16's min-label propagation,
    * the shared [[Dedup.ccLabels]] — runs on the pair table, never the
    * corpus; the universe re-enters with one left join. */
  val frameDedupSurvivors = Q.withOracle(
    "x192c_frame_dedup_survivors",
    "x192c: keep/drop survivor decision over the frame-signature near-dup clusters (CC over x192b's pairs, min-id survivor)",
    s"""WITH $frameCtes,
       |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM fp
       |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM fp),
       |${Dedup.ccChainCtes},
       |mn AS (SELECT comp, MIN(v) AS m FROM l${Dedup.CcRounds} GROUP BY 1)
       |SELECT d.doc_id,
       |  c.comp IS NOT NULL AS clustered,
       |  (c.comp IS NULL OR d.doc_id = mn.m) AS survivor
       |FROM documents d
       |LEFT JOIN l${Dedup.CcRounds} c ON d.doc_id = c.v
       |LEFT JOIN mn ON c.comp = mn.comp
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val prs = frameNearDupPairs(blobTable(s, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = Materialize(Dedup.symmetrize(prs)) // computed once, read by every CC round
    val cl = Dedup.ccLabels(edges)
    val mins = cl.groupBy(col("comp")).agg(min(col("v")).as("m"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(cl.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .join(mins, Seq("comp"), "left")
      .select(col("doc_id"),
        col("comp").isNotNull.as("clustered"),
        (col("comp").isNull || col("doc_id") === col("m")).as("survivor"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(pipeline, phashDedup, frameSample, frameNearDup,
    frameDedupSurvivors)
}
