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

  /** The hold store's physical dir — FrontendFeedSpec's crash twin
    * targets the one order-sensitive store. */
  private[graft] def holdStoreDir(dir: String): String = holdDir(dir)

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
    val histHoldAll = BucketStore.read(spark, holdDir(dir), holdSchema,
      Seq("g", "batch"), None)
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
    val touchedG = BucketStore.touchedBuckets(newHold, Seq("g"),
      BucketStore.buckets(spark, gramsDir(dir), numBuckets))
    val histGrams = BucketStore.read(spark, gramsDir(dir), gramsSchema,
      Seq("doc_id", "i"), Some(touchedG))
    val covB = Frontend.coveredPositions(histGrams, newHold)
    val covRows = covA.unionByName(covB).distinct()
    // stage-5 state: the batch's per-(doc, lang, bucket) bigram counts
    val dbB = Dsir.occurrencesFromTokens(
        gated.select(col("doc_id"), col("lang"), col("ts")))
      .withColumnRenamed("b", "fb")
      .groupBy(col("doc_id"), col("lang"), col("fb"))
      .agg(count(lit(1)).cast("long").as("c"))
    // appends (each a BucketStore append commit), then the stamp
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
    val facts = BucketStore.read(spark, factsDir(dir), factsSchema, Seq("doc_id"), None)
      .drop("batch")
    val train = facts.filter(!col("holdout"))
    val gated = train.filter(col("c4k") && col("gpass"))
    val hmin = BucketStore.read(spark, hminDir(dir), hminSchema, Seq("h", "batch"), None)
      .groupBy(col("h")).agg(min(col("m")).as("keep")) // mergeable min fold
    val deduped = Frontend.dedupKeepFirst(gated, hmin)
      .select(col("doc_id"), col("source"), col("lang"), col("n_ts"),
        col("qscore"))
    val covCnt = BucketStore.read(spark, covDir(dir), covSchema, Seq("doc_id", "j"), None)
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("covered"))
    val clean = Frontend.cleanFilter(deduped, covCnt)
      .materialized // read by the db semi-join, the select join, funnel
    val db = BucketStore.read(spark, dbDir(dir), dbSchema, Seq("doc_id", "fb"), None)
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
    * rows are immutable facts ([[BucketStore.compact]]: dedup on the
    * logical key, twins healed permanently); `hmin` folds to one min row
    * per hash and `hold` to one row per gram ([[BucketStore.fold]]: the
    * replace-commit covers every bucket so a crashed append can never
    * resurrect). Idempotent. */
  def compact(spark: SparkSession, dir: String): Unit = {
    BucketStore.compact(spark, factsDir(dir), factsSchema, Seq("doc_id"))
    BucketStore.compact(spark, gramsDir(dir), gramsSchema, Seq("doc_id", "i"))
    BucketStore.compact(spark, covDir(dir), covSchema, Seq("doc_id", "j"))
    BucketStore.compact(spark, dbDir(dir), dbSchema, Seq("doc_id", "fb"))
    BucketStore.fold(spark, hminDir(dir), hminSchema, Seq("h"),
      _.groupBy(col("h")).agg(min(col("m")).as("m")))
    BucketStore.fold(spark, holdDir(dir), holdSchema, Seq("g"),
      _.select(col("g")).distinct())
  }
}
