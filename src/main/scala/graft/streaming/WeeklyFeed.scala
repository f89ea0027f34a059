package graft.streaming

import graft.etl.Etl
import graft.model.VersionedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's weekly feed
  * (SURVEY.md §2.7). The reference "streams" by a human re-running a batch
  * CLI per weekly CSV (README.md:92-100, load-hhs.py:17), idempotent only
  * thanks to Postgres ON CONFLICT. Here:
  *
  *  - one dropped file ≈ one micro-batch (file source + available-now),
  *  - the multi-table upsert transaction (load-hhs.py:21-33) becomes a
  *    `foreachBatch` snapshot upsert (anti-join + append — Etl.upsert),
  *  - the UNIQUE(entity, week) grain (nb cell 13) becomes
  *    watermark + dropDuplicates, state bounded by the watermark,
  *  - the per-week report sums become a tumbling-window aggregation.
  *
  * Scale notes: state stores scale with (keys in watermark window), not
  * history — the 4-week watermark bounds them; foreachBatch writes are
  * per-micro-batch atomic (directory commit), giving the same all-or-
  * nothing behavior as the reference's conn.commit per file.
  */
object WeeklyFeed {

  /** Schema of the feed — the events table played as an arriving stream. */
  val feedSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** File-source stream over a watched directory of parquet drops. */
  def readFeed(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream
      .schema(feedSchema)
      .option("maxFilesPerTrigger", 1) // one drop ≈ one micro-batch
      .parquet(inDir)

  /** Grain enforcement: at most one row per (user_id, day), late data
    * accepted up to the watermark then dropped — the streaming form of
    * UNIQUE(hospital_weekly_id, collection_week).
    *
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`): the
    * dedup subset lacks the event-time column, so the plain form would
    * never evict state and it would grow with total key history. The
    * WithinWatermark variant expires each key once the watermark passes
    * its event time — state is bounded by keys inside the 28-day window. */
  def withGrain(feed: DataFrame): DataFrame =
    feed
      .withColumn("day", to_date(col("ts")))
      .withWatermark("ts", "28 days")
      .dropDuplicatesWithinWatermark("user_id", "day")

  /** Tumbling weekly aggregation with watermark (weekly-report.py:333-343
    * as a continuous query). */
  def weeklyAgg(feed: DataFrame): DataFrame =
    feed
      .withWatermark("ts", "14 days")
      .groupBy(window(col("ts"), "7 days"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))

  /** The full feed pipeline: dedup to grain, then per micro-batch upsert
    * into a parquet snapshot at `storeDir` keyed on (user_id, day) —
    * load-hhs.py's whole transaction, idempotent across re-delivered
    * files. */
  def runFeed(spark: SparkSession, inDir: String, storeDir: String,
      checkpointDir: String): StreamingQuery =
    withGrain(readFeed(spark, inDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertIntoStore(batch, storeDir)
      }
      .start()

  /** Snapshot upsert: read the current snapshot if one exists, anti-join
    * the batch against it and keep only new grain keys, then commit
    * through [[VersionedStore]]. The new version directory is written
    * FULLY before the `_LATEST` pointer swaps, so a crash mid-commit
    * leaves the previous snapshot live and an unreferenced directory to
    * garbage-collect, never a half-written store (the batch analog of
    * the reference's single-transaction commit, load-hhs.py:28-33).
    * `VersionedStore.compact` bounds file counts for trickle feeds. */
  def upsertIntoStore(batch: DataFrame, storeDir: String): Unit = {
    val merged =
      if (VersionedStore.latestVersion(storeDir) >= 1) {
        val existing = VersionedStore.read(batch.sparkSession, storeDir)
        Etl.upsert(existing, batch.select(existing.columns.map(col): _*),
          Seq("user_id", "day"))
      } else batch
    VersionedStore.commit(merged, storeDir)
  }

  /** Stream-static enrichment: the event feed joined against a bounded
    * dimension table (the reference's hospital→location chain shape, as
    * a stream). The static side is explicitly broadcast — each
    * micro-batch pays a map-side hash lookup, never a stateful
    * stream-stream join and never a per-batch shuffle of the feed; at
    * 100 TB/day of events this is the only join shape that holds. */
  def enriched(feed: DataFrame, dim: DataFrame, key: String): DataFrame =
    feed.join(org.apache.spark.sql.functions.broadcast(dim), key)
}
