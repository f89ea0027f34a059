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
  * reads the accumulated corpus. The store is the same hash-bucketed
  * append-only layout as [[BlockDedupFeed]]'s ownership index
  * (`_BUCKETS` pin, `b=<k>` partition dirs): appends write one file
  * per touched bucket per batch, replay-idempotence costs one
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

  private def bucketCol(n: Int) =
    pmod(xxhash64(col("vec_id")), lit(n.toLong)).cast("int").as("b")

  private def codebooksDir(storeDir: String) = s"$storeDir/codebooks"
  private def codesDir(storeDir: String) = s"$storeDir/codes"

  /** Train codebooks on the seed corpus, freeze them, pin the bucket
    * count, and encode the seed as the first batch. */
  def init(seed: DataFrame, storeDir: String,
      numBuckets: Int = DefaultBuckets): Unit = {
    val spark = seed.sparkSession
    Pq.codebooks(Ivf.quantized(Pq.normalized(seed)))
      .write.mode("overwrite").parquet(codebooksDir(storeDir))
    BucketStore.writeBucketsFile(spark, codesDir(storeDir), numBuckets)
    applyBatch(seed, storeDir)
  }

  /** The frozen codebooks (M × Codes rows — broadcast-sized always). */
  def readCodebooks(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(codebooksDir(storeDir))

  /** All accumulated codes — manifest-driven via the shared store layer
    * (stat-validated, self-healing), listing fallback for pre-manifest
    * stores. Deduped on the logical key (vec_id, sub): the append-store
    * read contract ([[BucketStore]] object doc) — a manifest rebuild can
    * resurrect crashed-append orphans next to their replayed twins, and
    * the twins are byte-identical, so any survivor is correct. */
  def readCodes(spark: SparkSession, storeDir: String): DataFrame =
    BucketStore.readBuckets(spark, codesDir(storeDir), None, Some(codesSchema))
      .drop("b")
      .dropDuplicates("vec_id", "sub")

  /** Manifest-driven read of only the `touched` buckets' files.
    * NOT deduped: its only consumer is applyBatch's replay anti-join,
    * which reads `vec_id` through a distinct — duplicate physical rows
    * cannot change its answer, so the hot per-batch path skips the
    * dedup shuffle the public reads pay. */
  private def readTouched(spark: SparkSession, storeDir: String,
      touched: Seq[Int]): DataFrame =
    if (touched.isEmpty)
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
    val spark = batch.sparkSession
    val n = BucketStore.pinnedBuckets(spark, codesDir(storeDir))
    require(n > 0, s"PqIndexFeed store at $storeDir not initialized")
    val cents = readCodebooks(spark, storeDir)
    val codes = Pq.encode(batch, cents)
      .withColumn("b", bucketCol(n))
      .materialized // read twice (touched + append); batch-sized
    val touched = codes.select(col("b")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by the bucket count
    // one-time migration for pre-manifest stores, then the append-commit
    // protocol: snapshot → write → commit the difference ([[BlockDedupFeed]]
    // has the crash analysis; orphans stay invisible, replay reconverges)
    BucketStore.ensureManifest(spark, codesDir(storeDir))
    val known = readTouched(spark, storeDir, touched)
      .select(col("vec_id")).distinct()
    val before = BucketStore.snapshotBuckets(spark, codesDir(storeDir), touched)
    codes.join(known, Seq("vec_id"), "left_anti")
      .repartition(col("b")) // one file per touched bucket per batch
      .write.partitionBy("b").mode("append").parquet(codesDir(storeDir))
    BucketStore.commitAppended(spark, codesDir(storeDir), touched, before)
    codes.drop("b")
  }

  /** Fold each bucket's per-batch appends into one file ([[BlockDedupFeed]]'s
    * LSM posture; rows are immutable so re-grouping is replay-safe). */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    // manifest-visible rows only: the dir overwrite deletes crashed
    // appends' invisible orphans together with the per-batch files
    BucketStore.ensureManifest(spark, codesDir(storeDir))
    // dedup on (vec_id, sub): permanently heal any rebuild-resurrected
    // orphan twins (identical rows) while re-grouping
    val all = BucketStore.readBuckets(spark, codesDir(storeDir), None,
        Some(codesSchema))
      .dropDuplicates("vec_id", "sub")
      .materialized // materialize before replacing source files
    val touched = all.select(col("b")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by the bucket count
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    all.repartition(col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(codesDir(storeDir))
    BucketStore.refreshTouched(spark, codesDir(storeDir), touched)
  }

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
