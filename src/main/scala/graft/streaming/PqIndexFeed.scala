package graft.streaming

import graft.ext.{Ivf, Pq}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental PQ index ingestion — how a production code index grows
  * at 100 TB: codebooks are trained ONCE on a seed corpus and FROZEN
  * (retraining would re-encode the whole history; real systems version
  * the codebook instead), and every arriving batch pays exactly one
  * broadcast keyed join to encode against them — the increment never
  * reads the accumulated corpus. The codes live in a [[BucketStore]]
  * append store bucketed by vec_id: appends write one file per touched
  * bucket per batch, replay-idempotence costs one
  * PARTITION-PRUNED anti-join against only the buckets the batch's
  * vec_ids hash into, and [[compact]] is the LSM maintenance pass that
  * bounds files-read. IncProbe measures the flat-increment claim on
  * the history axis; PqIndexFeedSpec pins incremental ≡ batch encode,
  * replay idempotence, and store-backed search equivalence.
  */
object PqIndexFeed {

  val DefaultBuckets = 256

  private val codesSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("sub", IntegerType),
    StructField("code", IntegerType), StructField("b", IntegerType)))

  private def codebooksDir(storeDir: String) = s"$storeDir/codebooks"
  private def codesDir(storeDir: String) = s"$storeDir/codes"

  /** Train codebooks on the seed corpus, freeze them, and encode the
    * seed as the first batch, which pins the bucket count. */
  def init(seed: DataFrame, storeDir: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val spark = seed.sparkSession
    Pq.codebooks(Ivf.quantized(Pq.normalized(seed)))
      .write.mode("overwrite").parquet(codebooksDir(storeDir))
    encodeInto(seed, storeDir, BucketStore.buckets(spark, codesDir(storeDir), numBuckets))
  }

  /** The frozen codebooks (M × Codes rows — broadcast-sized always). */
  def readCodebooks(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(codebooksDir(storeDir))

  /** All accumulated codes, deduped on the logical key (vec_id, sub) —
    * the append-store read contract ([[BucketStore.read]]). */
  def readCodes(spark: SparkSession, storeDir: String): DataFrame =
    BucketStore.read(spark, codesDir(storeDir), codesSchema, Seq("vec_id", "sub"), None)

  /** Manifest-driven read of only the `touched` buckets' files.
    * NOT deduped: its only consumer is applyBatch's replay anti-join,
    * which reads `vec_id` through a distinct — duplicate physical rows
    * cannot change its answer, so the hot per-batch path skips the
    * dedup shuffle the public reads pay. */
  private def readTouched(spark: SparkSession, storeDir: String,
      touched: Seq[Int]): DataFrame =
    if (touched.isEmpty || !BucketStore.storeExists(spark, codesDir(storeDir)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], codesSchema).drop("b")
    else
      BucketStore.readBuckets(spark, codesDir(storeDir), Some(touched),
        Some(codesSchema))
        .drop("b")

  /** Encode one batch against the frozen codebooks and append its codes.
    * The encode stage touches ONLY the batch (broadcast codebook join);
    * the history is read only for replay-idempotence, and only the
    * buckets the batch's keys hash into. Returns the batch's codes. */
  def applyBatch(batch: DataFrame, storeDir: String): DataFrame = {
    val n = BucketStore.pinnedBuckets(batch.sparkSession, codesDir(storeDir))
    require(n > 0, s"PqIndexFeed store at $storeDir not initialized")
    encodeInto(batch, storeDir, n)
  }

  private def encodeInto(batch: DataFrame, storeDir: String, n: Int): DataFrame = {
    val spark = batch.sparkSession
    val codes = Pq.encode(batch, readCodebooks(spark, storeDir))
      .withColumn("b", BucketStore.bucketCol(Seq("vec_id"), n))
      .materialized // read twice (touched + append); batch-sized
    val touched = BucketStore.touchedBuckets(codes, Seq("vec_id"), n)
    val known = readTouched(spark, storeDir, touched)
      .select(col("vec_id")).distinct()
    BucketStore.appendBucketed(spark, codesDir(storeDir),
      codes.join(known, Seq("vec_id"), "left_anti"), touched, n)
    codes.drop("b")
  }

  /** Fold each bucket's per-batch appends into one file
    * ([[BucketStore.compact]]; rows are immutable so re-grouping is
    * replay-safe). */
  def compact(spark: SparkSession, storeDir: String): Unit =
    BucketStore.compact(spark, codesDir(storeDir), codesSchema, Seq("vec_id", "sub"))

  /** ADC shortlist for a query frame against the accumulated store —
    * the store-level search primitive (the exact refine belongs to the
    * caller, who owns the raw-vector store; [[Pq.pqTopK]] shows the
    * composed shape). One broadcast LUT join + one keyed sum over the
    * code table, shortlist via the bounded-heap custom plan. */
  def searchStore(queries: DataFrame, storeDir: String,
      reRank: Int = Pq.ReRank): DataFrame = {
    val spark = queries.sparkSession
    val cents = readCodebooks(spark, storeDir)
    val qsub = Pq.subvectors(Ivf.quantized(Pq.normalized(queries)))
      .select(col("vec_id").as("query_id"), col("sub"), col("sq"))
    val lut = qsub.join(cents, "sub")
      .select(col("query_id"), col("sub"), col("code"),
        aggregate(zip_with(col("sq"), col("cq"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d"))
    val adc = readCodes(spark, storeDir)
      .withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("d")).as("adc"))
    graft.plans.TopKPerKey.topKPerKey(
      adc, Seq("query_id"), Seq(("adc", true), ("neighbor_id", true)), k = reRank)
  }
}
