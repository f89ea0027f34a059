package graft.streaming

import graft.ext.Sampling
import org.apache.spark.sql.{DataFrame, SparkSession}

/** x159's priority sample as CONTINUOUS ingestion — the weighted-sample
  * member of the incremental-feed family (the KmvFeed posture: bounded
  * state, batch cost independent of history).
  *
  * The top-(k+1) priority shortlist is an ORDER-STATISTIC sketch: the
  * global top-(k+1) of any union equals the top-(k+1) of per-part
  * top-(k+1)s, so folding batches through `selectTop(state ∪ batch)`
  * reproduces the batch answer exactly under any split, any order, any
  * regrouping. State is ≤ k+1 = 65 rows forever.
  *
  * Delivery contract: priorities are a pure function of the key, so a
  * re-delivered order contributes an IDENTICAL row and the per-key
  * dedup in [[applyBatch]] absorbs it — this feed is replay-IDEMPOTENT
  * (stronger than CmsFeed/PcaFeed's additive "double-count, don't
  * corrupt"; the weaker exactly-once checkpoint contract suffices).
  *
  * [[view]] replays x159's rank/τ/estimator stage on the 65-row state:
  * identical priorities ⇒ identical sample frame, which is the spec's
  * incremental == batch contract (empty until the shortlist fills —
  * with fewer than k+1 rows no threshold exists, matching the batch
  * query's own behavior on a sub-65-row corpus). */
object PrioritySampleFeed {

  import org.apache.spark.sql.types._

  private val stateSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("w", LongType),
    StructField("q", DoubleType)))

  /** An unborn state (empty, correctly typed). */
  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)

  /** Fold one micro-batch of order rows into the shortlist state. */
  def applyBatch(store: DataFrame, batch: DataFrame): DataFrame =
    Sampling.selectTop(
      store.unionByName(Sampling.prioritized(batch))
        .dropDuplicates("o_orderkey"))

  /** The x159 sample frame from the accumulated shortlist. */
  def view(store: DataFrame): DataFrame = Sampling.sampleFrame(store)
}
