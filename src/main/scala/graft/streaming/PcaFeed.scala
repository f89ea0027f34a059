package graft.streaming

import graft.ext.Pca
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** x153's PCA as CONTINUOUS ingestion — the embedding-QA member of the
  * incremental-feed family (the KmvFeed/CmsFeed/HoltFeed posture:
  * bounded state, batch cost independent of history).
  *
  * The scatter sums are the PERFECT mergeable statistic: the centered
  * scatter matrix is a function of (n, Σq_j, Σq_j·q_k) only, and all
  * three are plain sums — any batch split, any order, any regrouping
  * folds to the same exact integers. State is one 2,145-row frame
  * forever (2,080 upper-triangle pair sums + 64 linear sums + 1 count,
  * keyed by (j, k) with k = −1 marking linear rows and (−1, −1) the
  * count), all in decimal(38,0). Per batch: one batch-sized pure-map
  * explode + hash agg (the x153 scatter stage on the BATCH only) and a
  * 2,145-row merge — history never re-read.
  *
  * [[view]] rebuilds the EXACT x153 frame from the state: same integer
  * scatter ⇒ [[Pca.solve]] replays the same rescale, the same 8 power
  * rounds, the same Rayleigh — PcaFeedSpec pins incremental == batch
  * as a direct frame comparison, bit for bit.
  *
  * Delivery contract: sums are additive, so replay protection is the
  * stream checkpoint's exactly-once (the CmsFeed posture) — a
  * re-delivered batch double-counts, it does not corrupt. */
object PcaFeed {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types._

  private val stateSchema = StructType(Seq(
    StructField("j", LongType), StructField("k", LongType),
    StructField("v", DecimalType(38, 0))))

  /** An unborn state (empty, correctly typed). */
  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)

  /** Fold one micro-batch of embedding rows into the scatter-sum state. */
  def applyBatch(store: DataFrame, batch: DataFrame): DataFrame = {
    val vq = batch.select(expr(
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576.0D) AS BIGINT))")
      .as("q"))
    val pairs = vq.select(explode(Pca.pairExplode).as("e"))
      .select(col("e.j").cast("long").as("j"), col("e.k").cast("long").as("k"),
        // e.t = q_j·q_k computed exactly in int64 inside the explode
        // (optimization r16) — the same integer the former decimal
        // multiply produced
        col("e.t").cast("decimal(38,0)").as("v"))
    val lin = vq.select(explode(expr(
        "transform(sequence(0, size(q) - 1), j -> struct(j AS j, q[j] AS qv))")).as("e"))
      .select(col("e.j").cast("long").as("j"), lit(-1L).as("k"),
        col("e.qv").cast("decimal(38,0)").as("v"))
    val cnt = vq.agg(count(lit(1)).cast("decimal(38,0)").as("v"))
      .select(lit(-1L).as("j"), lit(-1L).as("k"), col("v"))
    store.unionByName(pairs).unionByName(lin).unionByName(cnt)
      .groupBy(col("j"), col("k"))
      .agg(sum(col("v")).cast("decimal(38,0)").as("v"))
  }

  /** The x153 frame from the accumulated state — column-identical to
    * [[Pca.pcaPower]]'s output so incremental == batch is a direct
    * frame comparison. */
  def view(store: DataFrame): DataFrame = {
    val st = store.materialized // 2,145 rows, read three ways below
    val n = st.filter(col("j") === -1L && col("k") === -1L)
      .select(col("v").cast("decimal(18,0)").as("n"))
    val sj = st.filter(col("k") === -1L && col("j") >= 0L)
      .select(col("j"), col("v").cast("decimal(18,0)").as("sv"))
    val p = st.filter(col("k") >= 0L)
      .select(col("j"), col("k"), col("v").as("p"))
    // np = n·Σqq and sc = np − Σq_j·Σq_k: the same exact integers x153
    // forms in one pass (headroom identical — documented there)
    val su = p.crossJoin(broadcast(n))
      .join(broadcast(sj.select(col("j"), col("sv").as("svj"))), "j")
      .join(broadcast(sj.select(col("j").as("k"), col("sv").as("svk"))), "k")
      .select(col("j"), col("k"),
        ((col("p") * col("n")).cast("decimal(38,0)")
          - col("svj") * col("svk")).as("sc"))
    Pca.solve(su)
  }
}
