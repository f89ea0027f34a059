package graft.streaming

import graft.etl.Etl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Change-data-capture apply as a continuous pipeline: a stream of row
  * images (inserts + updates, keyed) MERGEd into a hash-BUCKETED parquet
  * snapshot store per micro-batch — the streaming face of `Etl.merge`,
  * sibling of WeeklyFeed's insert-only feed.
  *
  * The store is a [[BucketStore]] bucketed by `keys`. A micro-batch
  * rewrites ONLY the buckets its keys hash into: the existing-side read
  * resolves the touched buckets' files through the store's manifest,
  * and [[BucketStore.overwrite]] replaces just those bucket
  * directories, so at 100 TB a trickle of CDC images pays for the
  * touched slice of the store, not a full-corpus rewrite per batch (the
  * round-4 shape) — and not even a full-store LISTING per batch (the
  * round-10 residual: with buckets ∝ snapshot size, O(buckets) root
  * listing made the history axis 2.4× instead of flat).
  *
  * Scale notes: each micro-batch pays one keyed join against the
  * touched buckets only (AQE broadcasts small batches); state lives in
  * the store, not the stream — no streaming state at all, so batch
  * size, not history, bounds memory. Replays are idempotent because
  * MERGE of the same images is a fixpoint — which also repairs the one
  * non-atomicity left: the committer swaps partitions one at a time, so
  * a crash mid-commit can land a prefix of the touched buckets, and the
  * replay reconverges the rest. */
object Cdc {

  val DefaultBuckets = 8

  /** File-source stream of row-image drops. */
  def readImages(spark: SparkSession, inDir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)

  /** The CDC pipeline: per micro-batch, newest image per key wins (ties
    * broken by `orderCol` descending), then MERGE into the store. */
  def runCdc(spark: SparkSession, inDir: String, schema: StructType,
      storeDir: String, checkpointDir: String,
      keys: Seq[String], orderCol: String,
      numBuckets: Int = DefaultBuckets): StreamingQuery =
    readImages(spark, inDir, schema)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeIntoStore(batch, storeDir, keys, orderCol, numBuckets)
      }
      .start()

  /** MERGE a batch of row images into the bucketed parquet snapshot.
    * Newest image per key wins GLOBALLY, not just within the batch: the
    * store row competes on `orderCol` too, so a stale image re-delivered
    * in a later micro-batch (or files replayed out of order into a fresh
    * checkpoint) can never overwrite a newer store row. On an `orderCol`
    * tie the incoming image wins (MERGE update semantics).
    *
    * Partition-targeted: only the buckets the batch's keys hash into are
    * read back and rewritten (dynamic partition overwrite); every other
    * `b=<k>` directory is untouched on disk. The touched-bucket set is a
    * driver-side collect BOUNDED BY the bucket count — metadata, not
    * data. */
  def mergeIntoStore(batch: DataFrame, storeDir: String,
      keys: Seq[String], orderCol: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val spark = batch.sparkSession
    val n = BucketStore.buckets(spark, storeDir, numBuckets)
    val newest = Etl.dedupFirst(batch, keys, Seq(col(orderCol).desc))
      .withColumn("b", BucketStore.bucketCol(keys, n))
    if (!BucketStore.storeExists(spark, storeDir))
      BucketStore.overwrite(spark, storeDir, newest, Nil, n)
    else {
      val touched = BucketStore.touchedBuckets(batch, keys, n)
      // the touched buckets' exact file list through the manifest —
      // stats O(batch-keys) files, never lists the root
      val existing = BucketStore.readBuckets(spark, storeDir, Some(touched),
        schemaHint = Some(newest.schema))
      val merged = Etl.dedupFirst(
        existing.withColumn("__src", lit(0))
          .unionByName(newest.withColumn("__src", lit(1))),
        keys, Seq(col(orderCol).desc, col("__src").desc))
        .drop("__src")
      BucketStore.overwrite(spark, storeDir, merged, touched, n)
    }
  }

  /** Current store contents (bucket column dropped) — manifest-driven
    * when available (stat-validated, self-healing; no directory walk),
    * listing fallback otherwise. */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    BucketStore.readBuckets(spark, storeDir, None).drop("b")
}
