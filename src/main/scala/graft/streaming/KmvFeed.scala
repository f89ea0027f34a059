package graft.streaming

import graft.ext.Kmv
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** x66's KMV distinct-count sketch as CONTINUOUS ingestion — the
  * mergeable-sketch property made operational. Exact streaming
  * `COUNT(DISTINCT)` needs state proportional to the distinct universe
  * (every user id ever seen); the KMV buffer is ≤ k longs per key
  * FOREVER, and because [[Kmv.BoundedDistinctMinK]]'s merge is
  * associative and commutative (KmvSpec), any batch split of the stream
  * folds to the identical sketch — incremental == from-scratch, exactly,
  * not approximately.
  *
  * Two forms, same state type, same estimator ([[Kmv.estimate]]):
  *  - [[applyBatch]]: the foreachBatch / micro-batch shape — union the
  *    stored sketch rows (exploded back to hashes) with the batch's
  *    hashes and re-aggregate with the SAME bounded aggregator. History
  *    cost per batch is |keys| · k sketch rows — metadata, never the
  *    event history (contrast BlockDedupFeed, whose index genuinely
  *    grows and therefore needs bucket pruning; a sketch store is the
  *    degenerate best case of that design).
  *  - [[sketchStream]]: `mapGroupsWithState` with the sorted distinct
  *    ≤ k array AS the state — the SURVEY §2.8 custom-state extension
  *    point, emitting the refreshed estimate per key per micro-batch.
  */
object KmvFeed {

  /** Merge one micro-batch of events into a (event_type, mins) sketch
    * table. Both inputs and the result are plain DataFrames so the store
    * lifecycle (snapshot parquet, [[graft.model.VersionedStore]], or a
    * foreachBatch sink) stays the caller's choice. */
  def applyBatch(store: DataFrame, batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val batchH = batch.select(col("event_type"),
      Kmv.hashCol(col("user_id")).as("h"))
    val storeH = store.select(col("event_type"), explode(col("mins")).as("h"))
    batchH.unionByName(storeH)
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new Kmv.BoundedDistinctMinK(Kmv.SketchK).toColumn.name("mins"))
      .toDF("event_type", "mins")
  }

  /** The estimate view over a sketch table: (event_type, n_mins, h_k,
    * est_kmv) — h_k/est NULL while a key holds < k distinct hashes. */
  def estimates(store: DataFrame): DataFrame =
    store.select(col("event_type"),
      size(col("mins")).cast("long").as("n_mins"),
      when(size(col("mins")) === Kmv.SketchK,
        element_at(col("mins"), Kmv.SketchK)).as("h_k"))
      .withColumn("est_kmv", expr(s"${(Kmv.SketchK - 1) * Kmv.P} div h_k"))

  case class SketchUpdate(event_type: String, n_mins: Long,
      h_k: Option[Long], est_kmv: Option[Long])

  private def sketchFn(key: String, events: Iterator[(String, Long)],
      state: GroupState[Array[Long]]): SketchUpdate = {
    val agg = new Kmv.BoundedDistinctMinK(Kmv.SketchK)
    val upd = events.foldLeft(state.getOption.getOrElse(agg.zero))(
      (b, e) => agg.reduce(b, e._2))
    state.update(upd)
    val est = Kmv.estimate(upd)
    SketchUpdate(key, upd.length.toLong, est.map(_._1), est.map(_._2))
  }

  /** Streaming form: per-type sketch as `mapGroupsWithState` state (≤ k
    * longs per key — no watermark needed, the state cannot grow), one
    * refreshed estimate row per key per micro-batch. */
  def sketchStream(feed: DataFrame): Dataset[SketchUpdate] = {
    val spark = feed.sparkSession
    import spark.implicits._
    feed.select(col("event_type"), Kmv.hashCol(col("user_id")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], SketchUpdate](
        GroupStateTimeout.NoTimeout)(sketchFn)
  }
}
