package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination — x22's at-scale companion.
  * x22 flags train docs sharing 3-gram shingles with the holdout split
  * via an EXACT hash join: correct, but the join shuffles the train
  * gram table — at 100 TB that is the corpus re-keyed by gram, the
  * single biggest exchange a decontamination pass can pay. The Bloom
  * form kills it: fold the holdout's gram set into an m-bit filter
  * (one partial-aggregated pass over the SMALL side), ship the filter
  * to every task, and probe each train gram in the projection — the
  * corpus-side scan is map-only; the only remaining shuffle is the
  * doc-keyed hit count. The price is a known, one-sided error: false
  * POSITIVES only (never false negatives — every x22 hit is an x53
  * hit; BloomSpec pins the superset property and the measured FP rate),
  * which is why production pipelines flag on hit FRACTION, not "any
  * hit".
  *
  * Determinism/oracle: the filter is not approximated away — it is
  * REPLAYED. Bit positions are the Kirsch–Mitzenmacher double-hash
  * family `p_j = (hi + j·lo) mod m` over the md5 lanes of the shingle
  * STRING (x2's engine-portable family), so DuckDB rebuilds the exact
  * bit set and flags the exact same docs, false positives included.
  *
  * Scale posture: filter state is m/8 bytes TOTAL (here 512 KiB),
  * independent of corpus size; m is sized ~10 bits per distinct
  * holdout gram, and a holdout too big for one filter shards into
  * per-range blocked filters probed by gram range — the bitmap is a
  * plan literal (one copy per executor with the serialized stage, the
  * same posture as the codebook literals in [[Pq]]); nothing about the
  * TRAIN side's size ever enters the memory equation.
  */
object Bloom {

  /** Filter width in bits — sized ~10+ bits per distinct holdout gram
    * at the LARGEST verified SF (sf0.1: ~660 holdout docs × ~430 grams
    * ≈ 280k grams → 2^22 keeps fill ≈ 0.18, FP/gram ≈ 0.6%; a 2^20
    * filter would sit at fill 0.55 / FP 17%, flagging most clean docs). */
  val MBits: Int = 1 << 22
  /** Hash functions per gram. */
  val K = 3
  /** Flagging threshold on the per-doc hit fraction. */
  val FracThreshold = 0.05

  private object Enc {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val arrayLong: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** OR-fold of bit positions into a fixed m-bit bitmap — typed
    * Aggregator (SURVEY.md §2.8 extension point): per-partition state
    * is the m/64-word array, merges are word-wise ORs, so the build is
    * one map-side-combined pass no matter how many grams stream in. */
  class BitmapOr(words: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](words)
    override def reduce(b: Array[Long], pos: Long): Array[Long] = {
      b((pos >> 6).toInt) |= 1L << (pos & 63); b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0; while (i < x.length) { x(i) |= y(i); i += 1 }; x
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = Enc.arrayLong
    override def outputEncoder: Encoder[Array[Long]] = Enc.arrayLong
  }

  /** (doc_id, g, hi, lo): distinct 3-gram shingles with md5 lanes —
    * the portable hash basis shared with x2's MinHash family. */
  private def gramLanes(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        explode(graft.functions.ShingleStr3.shingleStr3(split(col("text"), " "))).as("g"))
      .distinct()
      .withColumn("m", md5(col("g")))
      .select(col("doc_id"), col("g"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("lo"))
  }

  /** Build the filter from a gram-lane frame: explode the K positions,
    * OR-fold distributed, collect the ONE bounded bitmap row. */
  private[graft] def buildFilter(lanes: DataFrame, mBits: Int = MBits): Array[Long] = {
    import lanes.sparkSession.implicits._
    lanes.select(explode(transform(sequence(lit(0), lit(K - 1)),
        j => pmod(col("hi") + j.cast("long") * col("lo"), lit(mBits.toLong)))).as("p"))
      .as[Long]
      .select(new BitmapOr(mBits / 64).toColumn.name("bm"))
      .collect()(0)
  }

  /** Bit test against the literal bitmap — pure integer Column
    * arithmetic in the projection (shifts take column operands via
    * call_function; the Scala wrappers only accept Int literals). */
  private def bitSet(bm: Seq[Long], pos: Column): Column = {
    val word = element_at(typedLit(bm), ((pos / 64) + 1).cast("int"))
    call_function("shiftrightunsigned", word, (pos % 64).cast("int"))
      .bitwiseAND(lit(1L)) === lit(1L)
  }

  /** All K probes hit. */
  private def bloomHit(bm: Seq[Long], mBits: Int): Column =
    (0 until K).map(j =>
      bitSet(bm, pmod(col("hi") + lit(j.toLong) * col("lo"), lit(mBits.toLong))))
      .reduce(_ && _)

  /** The full decontamination pipeline, parameterized on the filter
    * width — the lever a real deployment turns as the HOLDOUT grows
    * (~10 bits per distinct holdout gram; the registered query pins
    * [[MBits]] for its oracle, the scale probe resizes). */
  private[graft] def pipeline(docs: DataFrame, mBits: Int = MBits): DataFrame = {
    val holdout = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val bm = buildFilter(gramLanes(docs.filter(holdout)), mBits).toSeq
    val perdoc = gramLanes(docs.filter(!holdout))
      .select(col("doc_id"), bloomHit(bm, mBits).as("hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
    docs.filter(!holdout).select(col("doc_id"))
      .join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).cast("long").as("n_grams"),
        coalesce(col("n_bloom_hits"), lit(0L)).cast("long").as("n_bloom_hits"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_bloom_hits").cast("double") / col("n_grams")).as("hit_frac"),
        (coalesce(col("n_bloom_hits").cast("double") / col("n_grams"), lit(0.0))
          >= FracThreshold).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  private def bloomOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, len(t) - 2),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM toks),
       |lanes AS MATERIALIZED (
       |  SELECT doc_id, g,
       |    ('0x' || substr(md5(g), 1, 8))::BIGINT AS hi,
       |    ('0x' || substr(md5(g), 9, 8))::BIGINT AS lo
       |  FROM sh),
       |tagged AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       |      THEN 'holdout' ELSE 'train' END AS split
       |  FROM documents),
       |bits AS MATERIALIZED (
       |  SELECT DISTINCT (l.hi + j.j * l.lo) % $MBits AS p
       |  FROM lanes l JOIN tagged USING (doc_id)
       |  CROSS JOIN generate_series(0, ${K - 1}) j(j)
       |  WHERE split = 'holdout'),
       |gramhit AS MATERIALIZED (
       |  SELECT l.doc_id, l.g, COUNT(b.p) AS nset
       |  FROM lanes l JOIN tagged USING (doc_id)
       |  CROSS JOIN generate_series(0, ${K - 1}) j(j)
       |  LEFT JOIN bits b ON (l.hi + j.j * l.lo) % $MBits = b.p
       |  WHERE split = 'train'
       |  GROUP BY l.doc_id, l.g),
       |perdoc AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    COUNT(*) FILTER (WHERE nset = $K) AS n_bloom_hits
       |  FROM gramhit GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(p.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       |  CASE WHEN COALESCE(p.n_grams, 0) > 0
       |    THEN CAST(p.n_bloom_hits AS DOUBLE) / p.n_grams END AS hit_frac,
       |  COALESCE(CAST(p.n_bloom_hits AS DOUBLE) / p.n_grams, 0)
       |    >= $FracThreshold AS contaminated
       |FROM tagged t LEFT JOIN perdoc p USING (doc_id)
       |WHERE t.split = 'train'
       |ORDER BY t.doc_id""".stripMargin

  /** x53: Bloom-filter decontamination — holdout gram set folded into a
    * 2^20-bit filter (double-hash family over the md5 lanes), train
    * grams probed map-side, docs flagged on hit fraction ≥
    * [[FracThreshold]]. The oracle REBUILDS the same bit set in SQL,
    * so false positives replay exactly. */
  val bloomDecontam = Q.withOracle(
    "x53_bloom_decontam",
    s"x53: Bloom($MBits bits, k=$K) holdout-gram filter, map-side train probe",
    bloomOracle) { (s, dir) => pipeline(Tables.documents(s, dir)) }

  val all: Seq[Q] = Seq(bloomDecontam)
}
