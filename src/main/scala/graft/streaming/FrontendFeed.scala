package graft.streaming

import graft.ext.{Dsir, Frontend}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** x187's COMPOSED pretraining front-end as CONTINUOUS ingestion (r15
  * verdict board #1 — the capstone): crawl drops stream in, and the
  * shipped training SCHEDULE always reflects the whole ingested corpus
  * without re-running the batch DAG's corpus scan. This is the
  * production crawl-drop shape of the entire curation layer: the heavy
  * text work (tokenize, line gates, md5, trigram and bigram explodes)
  * runs ONCE per document at ingest; every read-side stage is arithmetic
  * over pre-exploded compact state, composed from THE SAME shared
  * building blocks as batch x187 ([[Frontend.dedupKeepFirst]] /
  * [[Frontend.cleanFilter]] / [[Frontend.selectAndMix]] /
  * [[Frontend.curriculum]] — one definition each), so the feed's
  * [[schedule]] and [[funnel]] views are bit-equal to the registered
  * x187/x187b queries on the concatenated corpus under ANY batch split
  * (FrontendFeedSpec pins it).
  *
  * Why each stage's state is incremental-safe:
  *   - gate verdicts / md5 / qscore / n_ts are IMMUTABLE per-doc facts;
  *   - stage-3 keep-first is a per-hash MIN — mergeable over any split;
  *   - stage-4 coverage is a pure join of two MONOTONE sets (train
  *     trigram occurrences × holdout grams): a (doc, position) pair,
  *     once covered, is covered forever, so the union of per-batch
  *     join slices (new docs × all grams ∪ old docs × new grams)
  *     equals the batch join — [[Frontend.coveredPositions]] both ways;
  *   - stage-5 DSIR per-doc bucket counts are doc-local facts; the
  *     count tables over the CLEAN population are re-folded at read
  *     (a new batch can evict an old doc from `clean` — that is the
  *     composed semantics, not a feed defect: the [[DsirFeed]] contract,
  *     incremental STATE, corpus-sized read);
  *   - stages 6–7 are read-side arithmetic over the selected set.
  *
  * State: six [[BucketStore]] APPEND stores,
  *   `<dir>/facts` (doc_id, source, lang, n_ts, qscore, h,
  *                  holdout, c4k, gpass, batch)    bucketed by doc_id
  *   `<dir>/hmin`  (h, m, batch)                   bucketed by h
  *   `<dir>/hold`  (g, batch)                      bucketed by g
  *   `<dir>/grams` (doc_id, i, g)                  bucketed by g
  *   `<dir>/cov`   (doc_id, j)                     bucketed by doc_id
  *   `<dir>/db`    (doc_id, lang, fb, c)           bucketed by doc_id
  * `grams` (every gated train doc's positioned trigrams) is the
  * dominant state — the honest cost of incremental decontamination
  * against a GROWING holdout: when a benchmark drop lands, only its
  * truly-new grams probe the store, bucket-pruned to their g-buckets
  * (the index-lookup analog). At 100 TB the per-batch probe is bounded
  * by the drop's gram slice, never by history; the full-hold side of
  * the new-docs probe is the benchmark suite (broadcast/Bloom-sized by
  * nature, x182's posture).
  *
  * Crash discipline (= [[MinHashFeed]]): every stored row is a pure
  * function of one doc's text or of the (train gram × hold gram) match
  * — replay recomputes byte-identical rows; every read path dedups on
  * the store's logical key; the `_APPLIED_BATCH` stamp makes a replayed
  * batch id a no-op. The one order-sensitive derivation — "truly-new
  * holdout grams" — anti-joins against hold rows with batch ≠ batchId,
  * so a crash between the hold append and the stamp replays to the
  * identical new-gram set (its own half-written rows are excluded). */
object FrontendFeed {

  val DefaultBuckets = 8
  private val AppliedStamp = "_APPLIED_BATCH"

  private def factsDir(dir: String) = s"$dir/facts"
  private def hminDir(dir: String) = s"$dir/hmin"
  private def holdDir(dir: String) = s"$dir/hold"
  private def gramsDir(dir: String) = s"$dir/grams"
  private def covDir(dir: String) = s"$dir/cov"
  private def dbDir(dir: String) = s"$dir/db"

  private val factsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("n_ts", LongType),
    StructField("qscore", DoubleType), StructField("h", StringType),
    StructField("holdout", BooleanType), StructField("c4k", BooleanType),
    StructField("gpass", BooleanType), StructField("batch", LongType),
    StructField("b", IntegerType)))
  private val hminSchema = StructType(Seq(
    StructField("h", StringType), StructField("m", LongType),
    StructField("batch", LongType), StructField("b", IntegerType)))
  private val holdSchema = StructType(Seq(
    StructField("g", StringType), StructField("batch", LongType),
    StructField("b", IntegerType)))
  private val gramsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("i", IntegerType),
    StructField("g", StringType), StructField("b", IntegerType)))
  private val covSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("j", IntegerType),
    StructField("b", IntegerType)))
  private val dbSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("fb", LongType), StructField("c", LongType),
    StructField("b", IntegerType)))

  /** Test hook (private[graft]): FrontendFeedSpec drives this directly
    * to simulate the crash-between-append-and-stamp twin. */
  private[graft] def appendPartials(spark: SparkSession, store: String,
      partials: DataFrame, keys: Seq[String], numBuckets: Int): Unit =
    BucketStore.appendRows(spark, store, partials, keys, numBuckets)

  /** The hold store's physical dir — FrontendFeedSpec's crash twin
    * targets the one order-sensitive store. */
  private[graft] def holdStoreDir(dir: String): String = holdDir(dir)

  /** Visible rows of one store, crash-twin-healed (dedup on the logical
    * key), bucket-pruned to `touched` when given. */
  private def visible(spark: SparkSession, store: String, schema: StructType,
      keys: Seq[String], touched: Option[Seq[Int]] = None): DataFrame =
    if (!BucketStore.storeExists(spark, store))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema).drop("b")
    else
      BucketStore.readBuckets(spark, store, touched, Some(schema))
        .drop("b")
        .dropDuplicates(keys)

  private def buckets(spark: SparkSession, store: String, numBuckets: Int): Int = {
    val pinned = BucketStore.pinnedBuckets(spark, store)
    if (pinned > 0) pinned else numBuckets
  }

  /** Ingest one document batch — (doc_id, source, lang, text) rows, each
    * doc_id ONCE across the feed's lifetime (the crawl-drop contract).
    * `batchId` must be monotonic (foreachBatch epochs); a replayed id is
    * a no-op. */
  def ingest(spark: SparkSession, dir: String, docs: DataFrame,
      batchId: Long, numBuckets: Int = DefaultBuckets): Unit = {
    require(batchId >= 0, "batch ids are nonnegative")
    if (AggView.readStamp(spark, dir, AppliedStamp) >= batchId) return // replay
    val slim = Frontend.slimFrame(
        docs.select(col("doc_id"), col("source"), col("lang"), col("text")))
      .materialized // the batch's one text scan; read by every store below
    val facts = slim.drop("ts").withColumn("batch", lit(batchId))
    val gated = slim
      .filter(!col("holdout") && col("c4k") && col("gpass"))
      .select(col("doc_id"), col("lang"), col("ts"), col("h"))
      .materialized // hmin + trigram + bigram consumers; batch-sized
    val hminB = Frontend.hashMin(gated)
      .select(col("h"), col("keep").as("m"))
      .withColumn("batch", lit(batchId))
    val trigB = Frontend.trigramRows(gated)
      .materialized // coverage (a) + the grams append; batch-sized
    val holdB = Frontend.holdoutGrams(slim)
      .withColumn("batch", lit(batchId))
      .materialized // coverage (a)+(b) + the hold append; batch-sized
    // coverage (a): this batch's train grams × the FULL holdout gram set
    // (history ∪ this batch's drop — the benchmark-suite side, bounded
    // by nature at deployment scale)
    val histHoldAll = visible(spark, holdDir(dir), holdSchema, Seq("g", "batch"))
    val allHold = histHoldAll.select(col("g"))
      .unionByName(holdB.select(col("g"))).distinct()
    val covA = Frontend.coveredPositions(trigB, allHold)
    // coverage (b): truly-NEW holdout grams × HISTORICAL train grams,
    // bucket-pruned to the new grams' g-buckets. The anti-join excludes
    // this batch's own (possibly crash-replayed) hold rows by batch id,
    // so replay derives the identical new-gram set.
    val newHold = holdB.select(col("g"))
      .join(histHoldAll.filter(col("batch") =!= batchId).select(col("g")),
        Seq("g"), "left_anti")
      .materialized // bucket collect + probe join; drop-sized
    val ng = buckets(spark, gramsDir(dir), numBuckets)
    val touchedG = newHold.select(BucketStore.bucketCol(Seq("g"), ng))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded by bucket count
    val histGrams = visible(spark, gramsDir(dir), gramsSchema,
      Seq("doc_id", "i"), Some(touchedG))
    val covB = Frontend.coveredPositions(histGrams, newHold)
    val covRows = covA.unionByName(covB).distinct()
    // stage-5 state: the batch's per-(doc, lang, bucket) bigram counts
    val dbB = Dsir.occurrencesFromTokens(
        gated.select(col("doc_id"), col("lang"), col("ts")))
      .withColumnRenamed("b", "fb")
      .groupBy(col("doc_id"), col("lang"), col("fb"))
      .agg(count(lit(1)).cast("long").as("c"))
    // appends (each under the snapshot/commit protocol), then the stamp
    BucketStore.appendRows(spark, factsDir(dir), facts, Seq("doc_id"), numBuckets)
    BucketStore.appendRows(spark, hminDir(dir), hminB, Seq("h"), numBuckets)
    BucketStore.appendRows(spark, holdDir(dir), holdB, Seq("g"), numBuckets)
    BucketStore.appendRows(spark, gramsDir(dir), trigB, Seq("g"), numBuckets)
    BucketStore.appendRows(spark, covDir(dir), covRows, Seq("doc_id"), numBuckets)
    BucketStore.appendRows(spark, dbDir(dir), dbB, Seq("doc_id"), numBuckets)
    AggView.writeStamp(spark, dir, AppliedStamp, batchId)
  }

  /** The batch DAG's stage frames, reconstructed from state — the exact
    * shared building blocks over state-backed inputs. Corpus-sized read
    * by definition (a new batch moves every historical doc's DSIR score
    * and rank — composed semantics), but zero text re-processing: no
    * tokenize, no explode, no md5 ever re-runs here. */
  private def stagesFromState(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame) = {
    val facts = visible(spark, factsDir(dir), factsSchema, Seq("doc_id"))
      .drop("batch")
    val train = facts.filter(!col("holdout"))
    val gated = train.filter(col("c4k") && col("gpass"))
    val hmin = visible(spark, hminDir(dir), hminSchema, Seq("h", "batch"))
      .groupBy(col("h")).agg(min(col("m")).as("keep")) // mergeable min fold
    val deduped = Frontend.dedupKeepFirst(gated, hmin)
      .select(col("doc_id"), col("source"), col("lang"), col("n_ts"),
        col("qscore"))
    val covCnt = visible(spark, covDir(dir), covSchema, Seq("doc_id", "j"))
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("covered"))
    val clean = Frontend.cleanFilter(deduped, covCnt)
      .materialized // read by the db semi-join, the select join, funnel
    val db = visible(spark, dbDir(dir), dbSchema, Seq("doc_id", "fb"))
      .join(clean.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("fb").as("b"), col("c"))
    val (selected, accepted) = Frontend.selectAndMix(clean, db)
    (train, gated, deduped, clean, selected, accepted)
  }

  /** The shipped training schedule over everything ingested — bit-equal
    * to the registered batch `x187_pretrain_frontend` on the
    * concatenated corpus (FrontendFeedSpec pins it). */
  def schedule(spark: SparkSession, dir: String): DataFrame =
    Frontend.curriculum(stagesFromState(spark, dir)._6)

  /** The per-source funnel over everything ingested — bit-equal to the
    * registered batch `x187b_frontend_funnel`. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val (train, gated, deduped, clean, selected, accepted) =
      stagesFromState(spark, dir)
    Frontend.funnelFrom(train, gated, deduped, clean, selected, accepted)
  }

  /** The continuous pipeline ([[DsirFeed.run]]'s shape): document drops
    * in via the file source, front-end state maintained incrementally
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
          batch.select(col("doc_id"), col("source"), col("lang"), col("text")),
          batchId, numBuckets)
      }
      .start()

  /** Fold every store to one file per bucket. `facts`/`grams`/`cov`/`db`
    * rows are immutable facts (dedup on the logical key — twins healed
    * permanently, [[MinHashFeed.compact]]'s posture); `hmin` folds to
    * one min row per hash and `hold` to one row per gram (`batch = -1`,
    * [[DsirFeed.compact]]'s posture — the replace-commit covers every
    * bucket so a crashed append can never resurrect). Idempotent. */
  def compact(spark: SparkSession, dir: String): Unit = {
    def dedupOne(store: String, schema: StructType, keys: Seq[String]): Unit =
      if (BucketStore.storeExists(spark, store)) {
        BucketStore.ensureManifest(spark, store)
        val all = BucketStore.readBuckets(spark, store, None, Some(schema))
          .dropDuplicates(keys)
          .materialized // materialize BEFORE the overwrite replaces sources
        val touched = all.select(col("b")).distinct()
          .collect().map(_.getInt(0)).toSeq // bounded by the bucket count
        all.repartition(col("b")) // one file per bucket dir
          .write.partitionBy("b").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(store)
        BucketStore.refreshTouched(spark, store, touched)
      }
    def foldOne(store: String, schema: StructType, keys: Seq[String],
        fold: DataFrame => DataFrame): Unit =
      if (BucketStore.storeExists(spark, store)) {
        BucketStore.ensureManifest(spark, store)
        val n = BucketStore.pinnedBuckets(spark, store)
        val folded = fold(
            BucketStore.readBuckets(spark, store, None, Some(schema))
              .drop("b").dropDuplicates(keys :+ "batch"))
          .withColumn("batch", lit(-1L))
          .withColumn("b", BucketStore.bucketCol(keys, n))
          .materialized // materialize BEFORE the manifest swap
        val touched = (0 until n).toSeq // replace-commit covers every bucket
        val before = BucketStore.snapshotBuckets(spark, store, touched)
        folded.repartition(col("b"))
          .write.partitionBy("b").mode("append").parquet(store)
        BucketStore.commitReplaced(spark, store, touched, before)
        BucketStore.vacuum(spark, store)
      }
    dedupOne(factsDir(dir), factsSchema, Seq("doc_id"))
    dedupOne(gramsDir(dir), gramsSchema, Seq("doc_id", "i"))
    dedupOne(covDir(dir), covSchema, Seq("doc_id", "j"))
    dedupOne(dbDir(dir), dbSchema, Seq("doc_id", "fb"))
    foldOne(hminDir(dir), hminSchema, Seq("h"),
      df => df.groupBy(col("h")).agg(min(col("m")).as("m")))
    foldOne(holdDir(dir), holdSchema, Seq("g"),
      df => df.select(col("g")).distinct())
  }
}
