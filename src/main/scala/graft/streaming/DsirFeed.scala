package graft.streaming

import graft.ext.Dsir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** x177's DSIR importance selection as CONTINUOUS ingestion — "data
  * selection at ingest", the production shape of the recipe (Xie et al.
  * 2023): crawl batches stream in, the hashed-bigram bag models grow,
  * and the selection view always reflects the WHOLE ingested corpus.
  * The batch operator re-pays the full occurrence explode per drop;
  * every piece of DSIR state is either a PURE SUM (per-bucket raw /
  * target counts — mergeable like [[LmFeed]]'s tables) or an IMMUTABLE
  * per-doc fact (a doc's own bucket counts never change once ingested),
  * so only the increment needs counting.
  *
  * State: three [[BucketStore]] APPEND stores,
  *   `<dir>/cnt`  (fb, cr, ct, batch)      bucketed by xxhash64(fb)
  *   `<dir>/docs` (doc_id, fb, c, batch)   bucketed by xxhash64(fb)
  *   `<dir>/univ` (doc_id, batch)          bucketed by xxhash64(doc_id)
  * (`fb` is the DSIR FEATURE bucket — [[Dsir.Buckets]]-bounded — named
  * apart from the store's physical partition column `b`.) Each
  * [[ingest]] appends one aggregated partial per store: cost follows
  * the batch, never history. Reads fold the `cnt` partials with a sum
  * (associative+commutative ⇒ any batch split of the corpus folds to
  * the identical count tables), take `docs`/`univ` rows as immutable
  * facts, and then run THE SAME expression trees as the registered
  * x177 query ([[Dsir.ratioTable]]/[[Dsir.scoreDocBuckets]]/
  * [[Dsir.selectTail]] — one definition, shared) — so the feed's
  * [[selected]] view is bit-equal to batch x177 over the concatenated
  * corpus under ANY split (DsirFeedSpec pins it).
  *
  * Note the contract's shape: a NEW batch changes the count tables and
  * therefore every historical document's score and rank — that is
  * DSIR's semantics, not a feed defect. What the feed makes incremental
  * is the STATE (the heavy occurrence explode runs once per batch);
  * the selection read is corpus-sized by definition, exactly like the
  * batch operator it replaces.
  *
  * Crash discipline (= [[LmFeed]]): the `_APPLIED_BATCH` stamp makes a
  * replayed batch id a no-op (REQUIRED after compaction — a replayed
  * batch already folded into the `batch = -1` row would double-count);
  * a crash between append-commit and stamp leaves committed partials
  * the replay duplicates, so every read path dedups on (batch, key)
  * first. Docs are ingested ONCE (the [[MinHashFeed]] doc-once
  * contract). [[compact]] folds `cnt` to one row per feature bucket with
  * [[BucketStore.fold]]'s atomic manifest swap; `docs` and
  * `univ` rows are immutable facts and need no folding. */
object DsirFeed {

  val DefaultBuckets = 8
  private val AppliedStamp = "_APPLIED_BATCH"

  private def cntDir(dir: String) = s"$dir/cnt"
  private def docsDir(dir: String) = s"$dir/docs"
  private def univDir(dir: String) = s"$dir/univ"

  private val cntSchema = StructType(Seq(
    StructField("fb", LongType), StructField("cr", LongType),
    StructField("ct", LongType), StructField("batch", LongType),
    StructField("b", IntegerType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("fb", LongType),
    StructField("c", LongType), StructField("batch", LongType),
    StructField("b", IntegerType)))
  private val univSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("batch", LongType),
    StructField("b", IntegerType)))

  /** Ingest one document batch — (doc_id, text, lang) rows, each doc_id
    * ONCE across the feed's lifetime. `batchId` must be monotonic
    * (foreachBatch epochs); a replayed id is a no-op. */
  def ingest(spark: SparkSession, dir: String, docs: DataFrame,
      batchId: Long, numBuckets: Int = DefaultBuckets): Unit = {
    require(batchId >= 0, "batch ids are nonnegative (-1 marks compacted rows)")
    if (AggView.readStamp(spark, dir, AppliedStamp) >= batchId) return // replay
    val hb = Dsir.occurrences(docs).withColumnRenamed("b", "fb")
    val cnt = hb.groupBy(col("fb"))
      .agg(count(lit(1)).cast("long").as("cr"),
        count(when(col("lang") === "en", 1)).cast("long").as("ct"))
      .withColumn("batch", lit(batchId))
    val db = hb.groupBy(col("doc_id"), col("fb"))
      .agg(count(lit(1)).cast("long").as("c"))
      .withColumn("batch", lit(batchId))
    val univ = docs.select(col("doc_id").cast("long").as("doc_id"))
      .withColumn("batch", lit(batchId))
    BucketStore.appendRows(spark, cntDir(dir), cnt, Seq("fb"), numBuckets)
    BucketStore.appendRows(spark, docsDir(dir), db, Seq("fb"), numBuckets)
    BucketStore.appendRows(spark, univDir(dir), univ, Seq("doc_id"), numBuckets)
    AggView.writeStamp(spark, dir, AppliedStamp, batchId)
  }

  /** Folded per-bucket count table (b, cr, ct) — x177's `cr`/`ct`
    * tables in one frame (a bucket with target hits always has raw
    * hits, so the frames share one bucket set). */
  def bucketCounts(spark: SparkSession, dir: String): DataFrame =
    BucketStore.read(spark, cntDir(dir), cntSchema, Seq("fb", "batch"), None)
      .groupBy(col("fb"))
      .agg(sum(col("cr")).cast("long").as("cr"),
        sum(col("ct")).cast("long").as("ct"))
      .select(col("fb").as("b"), col("cr"), col("ct"))

  /** Per-doc importance scores over ALL ingested docs — x177's scoring
    * expression trees against the folded state. */
  def scores(spark: SparkSession, dir: String): DataFrame = {
    val counts = bucketCounts(spark, dir)
    val tot = counts.agg(sum(col("cr")).cast("long").as("nr"),
      sum(col("ct")).cast("long").as("nt"))
    val ratio = Dsir.ratioTable(
      counts.select(col("b"), col("cr")),
      counts.select(col("b"), col("ct")), tot)
    val db = BucketStore.read(spark, docsDir(dir), docSchema,
        Seq("doc_id", "fb", "batch"), None)
      .select(col("doc_id"), col("fb").as("b"), col("c"))
    Dsir.scoreDocBuckets(db, ratio)
  }

  /** The x177 output over the whole ingested corpus: one row per
    * ingested doc, top-⌈n/4⌉ selected — bit-equal to the registered
    * batch query on the concatenated corpus. */
  def selected(spark: SparkSession, dir: String): DataFrame =
    Dsir.selectTail(scores(spark, dir),
      BucketStore.read(spark, univDir(dir), univSchema, Seq("doc_id", "batch"), None)
        .select(col("doc_id")))

  /** The continuous pipeline ([[BlockDedupFeed.run]]'s shape): document
    * drops in via the file source, DSIR state maintained incrementally
    * via foreachBatch — epoch ids are the feed's monotonic batch ids, so
    * checkpoint-replayed epochs hit the applied-stamp no-op. */
  def run(spark: SparkSession, inDir: String, stateDir: String,
      checkpointDir: String, numBuckets: Int = DefaultBuckets): StreamingQuery =
    DocFeed.readDocs(spark, inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingest(spark, stateDir,
          batch.select(col("doc_id"), col("text"), col("lang")),
          batchId, numBuckets)
      }
      .start()

  /** Fold `cnt` to one row per feature bucket (`batch = -1`) with
    * [[BucketStore.fold]] — the LSM maintenance pass. `docs`/`univ`
    * are immutable facts: nothing to fold. Idempotent. */
  def compact(spark: SparkSession, dir: String): Unit =
    BucketStore.fold(spark, cntDir(dir), cntSchema, Seq("fb"),
      _.groupBy(col("fb"))
        .agg(sum(col("cr")).cast("long").as("cr"),
          sum(col("ct")).cast("long").as("ct")))
}
