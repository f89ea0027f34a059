package graft.streaming

import graft.ext.Rewrite
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** x43's span-level dedup as CONTINUOUS ingestion — the shape a
  * production corpus actually runs: nobody re-deduplicates 100 TB per
  * day; the daily crawl drop is deduplicated against a persistent index
  * of every block ever kept, and only the increment pays.
  *
  * The index is an APPEND-ONLY parquet table (block md5 → packed first
  * owner), stored in the Cdc-style HASH-BUCKETED layout: `b=<k>/`
  * partition directories with `k = pmod(xxhash64(bh), n)` and the
  * bucket count pinned in a `_BUCKETS` file at creation (round 8 — the
  * round-7 form read the WHOLE index every micro-batch, so each
  * increment paid linearly for corpus history). A batch lists the
  * buckets its own block hashes fall in (a driver-side collect BOUNDED
  * BY the bucket count — metadata, not data) and the existing-side read
  * partition-prunes to exactly those directories: per-batch cost scales
  * with the batch's bucket coverage, not with history. At deployment
  * scale the bucket count is sized so one bucket ≈ one executor's
  * comfortable scan (e.g. 2^10–2^14 buckets for a 100 TB corpus); a
  * small batch touches few buckets, a full-corpus replay touches all —
  * both read only what they must.
  *
  * Keep-first makes ownership immutable — a block's first owner never
  * changes — so maintaining the index never rewrites anything: each
  * batch appends exactly the rows for blocks it introduced, into the
  * partition dirs they hash to. A batch's decision rule is
  *
  *   keep = first-in-batch AND (absent from index OR index owner == me)
  *
  * and the self-ownership disjunct is what makes REPLAY idempotent: a
  * re-run batch finds its own blocks in the index, owned by itself, and
  * reproduces the identical output; its would-be appends are empty. A
  * crash between output write and index append (either order) therefore
  * reconverges on replay, and the per-batch output directory
  * (`out/batch=<id>`, dynamic overwrite) makes the output side
  * idempotent too. `_BUCKETS` is written at creation BEFORE the first
  * append (the Cdc pin-at-creation rule): a crash in between leaves an
  * empty pinned store, which reads as empty and replays clean.
  *
  * Scale shape: per batch, one window over the batch's own blocks
  * (batch-sized), one left join against the TOUCHED BUCKETS of the
  * index on the block-hash key (shuffle of the batch side plus only the
  * pruned index slice), one per-doc regroup, and a partitioned append
  * of the new owners. History never rewrites; state lives in the store,
  * not the stream — batch size, not corpus size, bounds memory. */
object BlockDedupFeed {

  val DefaultBuckets = 8

  private val idxSchema = StructType(Seq(
    StructField("bh", StringType), StructField("owner", LongType),
    StructField("b", IntegerType)))

  private def bucketCol(n: Int) =
    pmod(xxhash64(col("bh")), lit(n.toLong)).cast("int").as("b")

  /** Manifest-driven index read of only the `touched` buckets' files
    * (BlockDedupFeedSpec asserts the pruned file set); the shared store
    * layer stat-validates entries and falls back to a partition-pruned
    * listing scan for pre-manifest stores. The explicit schema keeps an
    * empty-but-pinned store readable.
    *
    * The dedup on `bh` implements the append-store read contract
    * ([[BucketStore]] object doc): a [[BucketStore.rebuildManifest]]
    * recovery can resurrect a crashed append's orphan files next to
    * their replayed twins, so the physical store may carry the same
    * (bh, owner) row twice. Replay determinism makes the twins
    * byte-identical, so any survivor is correct — without the dedup the
    * applyBatch left join would multiply block rows and corrupt the
    * reassembled output. */
  private[graft] def readIndex(spark: SparkSession, indexDir: String,
      touched: Seq[Int]): DataFrame = {
    if (!BucketStore.storeExists(spark, indexDir) || touched.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], idxSchema)
        .drop("b")
    else
      BucketStore.readBuckets(spark, indexDir, Some(touched), Some(idxSchema))
        .drop("b")
        .dropDuplicates("bh")
  }

  /** Deduplicate one document batch against (and into) the index at
    * `indexDir`; returns the x43-shaped rewrite of the batch. Owners
    * are appended BEFORE the caller writes the output — either order
    * is crash-safe (see object doc), this one makes the returned frame
    * independently re-derivable. The bucket count is pinned at store
    * creation; a later different `numBuckets` argument is ignored. */
  def applyBatch(batch: DataFrame, indexDir: String,
      numBuckets: Int = DefaultBuckets): DataFrame = {
    val spark = batch.sparkSession
    val pinned = BucketStore.pinnedBuckets(spark, indexDir)
    val n = if (pinned > 0) pinned else numBuckets
    val blocks = Rewrite.blockFrame(batch.select(col("doc_id"), col("text")))
      .withColumn("bh", md5(col("btxt")))
      .withColumn("p", Rewrite.packedCol)
      .materialized // read three times (touched + flag + append); batch-sized
    val touched = blocks.select(bucketCol(n)).distinct()
      .collect().map(_.getInt(0)).toSeq
    // one-time migration: a pre-manifest store's files must be in the
    // manifest BEFORE an append commit extends it
    if (pinned > 0) BucketStore.ensureManifest(spark, indexDir)
    val idx = readIndex(spark, indexDir, touched)
    val flagged = blocks
      .withColumn("bf", col("p") === min(col("p")).over(Window.partitionBy(col("bh"))))
      .join(idx, Seq("bh"), "left")
      .withColumn("keep", col("bf") && (col("owner").isNull || col("owner") === col("p")))
      .materialized // decisions must not shift between append and output
    if (pinned == 0) BucketStore.writeBucketsFile(spark, indexDir, n)
    // Unconditional append (round 8): a replay's new-owner frame is
    // empty and writes nothing — probing it with isEmpty first was one
    // extra Spark job per batch for no behavior change.
    //
    // Append-commit protocol (round 12): snapshot the touched dirs,
    // write, then commit exactly the before/after difference to the
    // manifest. A crash between write and commit leaves the new files
    // as INVISIBLE orphans — the replayed batch recomputes identical
    // decisions (its blocks still read as absent), re-appends, and
    // commits; orphans are reclaimed by [[compact]]'s dir overwrite.
    val before = BucketStore.snapshotBuckets(spark, indexDir, touched)
    flagged
      .filter(col("bf") && col("owner").isNull)
      .select(col("bh"), col("p").as("owner"))
      .withColumn("b", bucketCol(n))
      .repartition(col("b")) // one file per touched bucket per batch, not tasks × buckets
      .write.partitionBy("b").mode("append").parquet(indexDir)
    BucketStore.commitAppended(spark, indexDir, touched, before)
    Rewrite.reassemble(flagged.select(col("doc_id"), col("blk"), col("btxt"), col("keep")))
  }

  /** Fold each bucket's per-batch append files into ONE file per bucket
    * — the LSM-style maintenance pass that bounds read amplification:
    * appends keep per-batch writes O(batch), and periodic compaction
    * keeps per-batch READS at (touched buckets) files, so files-read
    * scales with batch coverage, not with how many batches history took
    * (BlockDedupFeedSpec pins both). Idempotent and replay-safe: rows
    * are immutable, so compaction only re-groups them; dynamic
    * partition overwrite touches exactly the bucket dirs and leaves the
    * `_BUCKETS` pin in place; the materialization holds the
    * index before its source files are replaced. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val n = BucketStore.pinnedBuckets(spark, indexDir)
    if (n > 0) {
      BucketStore.ensureManifest(spark, indexDir)
      // read the manifest-VISIBLE rows: the dir overwrite then deletes
      // any invisible orphans from crashed appends along with the
      // replaced per-batch files — compaction doubles as garbage
      // collection for the append-commit protocol
      // dedup on bh: a manifest rebuild may have resurrected crashed-
      // append orphans next to their replayed twins (identical rows) —
      // compaction is where the store heals them PERMANENTLY
      val all = BucketStore.readBuckets(spark, indexDir, None, Some(idxSchema))
        .dropDuplicates("bh")
        .materialized
      val touched = all.select(col("b")).distinct()
        .collect().map(_.getInt(0)).toSeq // bounded by the bucket count
      all
        .repartition(col("b")) // each bucket wholly in one task → one file per dir
        .write.partitionBy("b").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(indexDir)
      // post-overwrite the dirs contain exactly the compacted files, so
      // the listing refresh is the correct commit here
      BucketStore.refreshTouched(spark, indexDir, touched)
    }
  }

  /** The continuous pipeline: document drops in, per-batch rewritten
    * corpus out (one directory per micro-batch — idempotent under
    * replay), block index maintained incrementally. */
  def run(spark: SparkSession, inDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      numBuckets: Int = DefaultBuckets): StreamingQuery =
    DocFeed.readDocs(spark, inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, indexDir, numBuckets)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
}
