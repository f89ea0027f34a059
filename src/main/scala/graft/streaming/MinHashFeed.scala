package graft.streaming

import graft.ext.Dedup
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** x2+x48's document-level NEAR-dup as CONTINUOUS ingestion (r14 verdict
  * board #2 — the last dedup-family member without a feed): a new crawl
  * drop is near-dup-checked against the FULL ingested history without
  * re-running batch MinHash over everything. This is the production
  * "dedup at ingest" shape: the signature/band index is the textbook
  * mergeable state — band rows are doc-local pure appends — so new docs
  * probe only their bands' buckets for historical candidates, verify
  * with exact Jaccard against only the implicated docs' stored shingle
  * sets, and the pair/survivor views fold to exactly the batch x2/x48
  * answer on the concatenated corpus (MinHashFeedSpec pins bit-equality
  * under any batch split).
  *
  * State: four [[BucketStore]] APPEND stores, all rows IMMUTABLE (every
  * row is a pure function of one doc's text, or of one verified pair of
  * texts), so the whole feed inherits [[BlockDedupFeed]]'s crash
  * discipline — replay recomputes byte-identical rows, every read path
  * dedups on the store's logical key, compaction heals twins
  * permanently — plus [[LmFeed]]'s `_APPLIED_BATCH` stamp so a replayed
  * batch id skips the (idempotent but non-trivial) recompute outright:
  *   `<dir>/bands`    (doc_id, band, bh)  bucketed by xxhash64(bh)
  *   `<dir>/shingles` (doc_id, g)         bucketed by xxhash64(doc_id)
  *   `<dir>/docs`     (doc_id, n)         bucketed by xxhash64(doc_id)
  *   `<dir>/pairs`    (doc_a, doc_b, n_common, n_a, n_b, jac)
  *                                        bucketed by xxhash64(doc_a, doc_b)
  *
  * Increment ≡ batch, exactly: a doc's band rows and shingle set are
  * doc-local, so the union over any batch split equals the batch run's;
  * a candidate pair (A, B) surfaces in whichever batch ingests the
  * LATER of the two (its probe finds the earlier doc's band rows in the
  * bucket) or in their shared batch (in-batch expansion) — the union
  * over batches is exactly x2's "docs sharing any (band, bh) bucket";
  * and exact-Jaccard verification of a pair reads only the two docs'
  * shingle sets, which are batch-invariant. Verified rows are therefore
  * byte-identical however the corpus was split, which is also what
  * makes the (doc_a, doc_b) dedup on the pairs store safe when the same
  * pair is found via several bands or re-appended by a crashed-batch
  * replay.
  *
  * Scale shape per batch: signatures/bands/shingles are batch-sized
  * map+agg work; the candidate probe reads the TOUCHED band buckets
  * (the index-lookup analog — at deployment scale the bucket count is
  * sized so a batch's coverage slice, not history, bounds the read, the
  * [[BlockDedupFeed]] posture); verification joins only bucket-mate
  * docs' shingles, read from the touched doc-buckets of the shingle
  * store — NEVER all-pairs, never the corpus. The survivor view runs
  * connected components over the pairs store (≪ corpus — near-dup mass
  * only), exactly batch x48's composition. */
object MinHashFeed {

  val DefaultBuckets = 8
  private val AppliedStamp = "_APPLIED_BATCH"
  /** Verification threshold — x2/x4's, the ONE shared constant (r15
    * advice: a divergent copy here would silently break the feed's
    * bit-equal-to-batch-x2 contract). */
  val Threshold: Double = Dedup.JaccardThreshold

  private def bandsDir(dir: String) = s"$dir/bands"
  private def shinglesDir(dir: String) = s"$dir/shingles"
  private def docsDir(dir: String) = s"$dir/docs"
  private def pairsDir(dir: String) = s"$dir/pairs"

  private val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bh", StringType), StructField("b", IntegerType)))
  private val shinglesSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("g", LongType),
    StructField("b", IntegerType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n", LongType),
    StructField("b", IntegerType)))
  private val pairsSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType),
    StructField("n_common", LongType), StructField("n_a", LongType),
    StructField("n_b", LongType), StructField("jac", DoubleType),
    StructField("b", IntegerType)))

  /** Near-dup-check one document batch against (and into) the index.
    * `batchId` must be monotonic (foreachBatch epochs); a replayed id is
    * a no-op. Doc ids must be unique across the feed's lifetime (each
    * document is ingested once — the crawl-drop contract). */
  def ingest(spark: SparkSession, dir: String, docs: DataFrame,
      batchId: Long, numBuckets: Int = DefaultBuckets): Unit = {
    require(batchId >= 0, "batch ids are nonnegative")
    if (AggView.readStamp(spark, dir, AppliedStamp) >= batchId) return // replay
    val batchDocs = docs.select(col("doc_id"), col("text"))
    // doc-local state of the batch: shingle sets (+ counts) and band rows
    val shn = Dedup.shingleHashesWithCount(batchDocs)
      .materialized // verification joins + shingle append; batch-sized
    val docsN = batchDocs.select(col("doc_id"))
      .join(shn.select(col("doc_id"), col("n")).distinct(), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n"), lit(0L)).cast("long").as("n"))
    val bands = Dedup.bandRows(Dedup.signatures(batchDocs))
      .materialized // probe + pairing + append; 8 rows per doc
    // candidates: in-batch bucket-mates ∪ history bucket-mates from the
    // TOUCHED band buckets only
    val touchedBands = BucketStore.touchedBuckets(bands, Seq("bh"),
      BucketStore.buckets(spark, bandsDir(dir), numBuckets))
    val hist = BucketStore.read(spark, bandsDir(dir), bandsSchema,
      Seq("doc_id", "band"), Some(touchedBands))
    val newOld = bands.as("nw")
      .join(hist.as("old"),
        col("nw.band") === col("old.band") && col("nw.bh") === col("old.bh"))
      .select(least(col("nw.doc_id"), col("old.doc_id")).as("doc_a"),
        greatest(col("nw.doc_id"), col("old.doc_id")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val cand = Dedup.pairsFromBandRows(bands)
      .unionByName(newOld).distinct()
      .materialized // old-id bucket collect + verify join; candidate-sized
    // verification shingle table: the batch's sets + ONLY the implicated
    // historical docs' sets (semi-joined out of their touched buckets)
    val batchIds = batchDocs.select(col("doc_id"))
    val oldIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      .join(batchIds, Seq("doc_id"), "left_anti")
      .materialized // bucket collect + two semi joins; candidate-sized
    val touchedDocs = BucketStore.touchedBuckets(oldIds, Seq("doc_id"),
      BucketStore.buckets(spark, docsDir(dir), numBuckets))
    val oldShn = BucketStore.read(spark, shinglesDir(dir), shinglesSchema,
        Seq("doc_id", "g"), Some(touchedDocs))
      .join(oldIds, Seq("doc_id"), "left_semi")
    val oldN = BucketStore.read(spark, docsDir(dir), docsSchema,
        Seq("doc_id"), Some(touchedDocs))
      .join(oldIds, Seq("doc_id"), "left_semi")
    val allShn = shn.unionByName(oldShn.join(oldN, "doc_id")
      .select(col("doc_id"), col("g"), col("n")))
    val verified = Dedup.exactJaccard(cand, allShn)
      .filter(col("jac") >= Threshold)
    // appends (each a BucketStore append commit), then the stamp
    BucketStore.appendRows(spark, pairsDir(dir), verified,
      Seq("doc_a", "doc_b"), numBuckets)
    BucketStore.appendRows(spark, bandsDir(dir), bands, Seq("bh"), numBuckets)
    BucketStore.appendRows(spark, shinglesDir(dir),
      shn.select(col("doc_id"), col("g")), Seq("doc_id"), numBuckets)
    BucketStore.appendRows(spark, docsDir(dir), docsN, Seq("doc_id"), numBuckets)
    AggView.writeStamp(spark, dir, AppliedStamp, batchId)
  }

  /** The verified near-dup pairs over everything ingested — bit-equal to
    * the registered batch `x2_minhash_lsh_pairs` on the concatenated
    * corpus (MinHashFeedSpec pins it). */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    BucketStore.read(spark, pairsDir(dir), pairsSchema, Seq("doc_a", "doc_b"), None)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"),
        col("n_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Per-doc survivor decision over everything ingested — x48's
    * composition (connected components over the pair graph, min-id
    * survivor per cluster) applied to the feed's x2-equivalent pairs.
    * The pairs store is ≪ corpus (near-dup mass only); the doc universe
    * comes from the docs store. */
  def survivors(spark: SparkSession, dir: String): DataFrame = {
    val prs = BucketStore.read(spark, pairsDir(dir), pairsSchema, Seq("doc_a", "doc_b"), None)
      .select(col("doc_a"), col("doc_b"))
    val edges = Dedup.symmetrize(prs).materialized // computed once, read by every CC round
    val cl = Dedup.ccLabels(edges) // (v, comp)
    val mins = cl.groupBy(col("comp")).agg(min(col("v")).as("m"))
    BucketStore.read(spark, docsDir(dir), docsSchema, Seq("doc_id"), None)
      .select(col("doc_id"))
      .join(cl.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .join(mins, Seq("comp"), "left")
      .select(col("doc_id"),
        col("comp").isNotNull.as("clustered"),
        (col("comp").isNull || col("doc_id") === col("m")).as("survivor"))
      .orderBy(col("doc_id"))
  }

  /** Fold every store to one file per bucket with
    * [[BucketStore.compact]]: rows are immutable, so dedup on the
    * logical key heals twins permanently and the dir overwrite doubles
    * as garbage collection for crashed appends. */
  def compact(spark: SparkSession, dir: String): Unit = {
    BucketStore.compact(spark, bandsDir(dir), bandsSchema, Seq("doc_id", "band"))
    BucketStore.compact(spark, shinglesDir(dir), shinglesSchema, Seq("doc_id", "g"))
    BucketStore.compact(spark, docsDir(dir), docsSchema, Seq("doc_id"))
    BucketStore.compact(spark, pairsDir(dir), pairsSchema, Seq("doc_a", "doc_b"))
  }
}
