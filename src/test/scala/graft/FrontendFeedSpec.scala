package graft

import graft.streaming.{BucketStore, FrontendFeed}
import org.apache.spark.sql.functions._

/** FrontendFeed contract (the DsirFeed discipline, applied to the whole
  * composed front-end): split-invariance (any batch split of the corpus
  * reads back the identical schedule), BIT-equality of the [[FrontendFeed
  * .schedule]]/[[FrontendFeed.funnel]] views against the registered
  * x187/x187b batch queries on the concatenated corpus — including the
  * growing-corpus prefix — replay idempotence (stamp no-op + the
  * order-sensitive hold-store crash twin), compaction transparency, and
  * the AvailableNow file-drop pipeline end to end. */
class FrontendFeedSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"ffeed$tag").toString

  private lazy val docs = Tables.documents(spark, sf)
    .select($"doc_id", $"source", $"lang", $"text").localCheckpoint()

  private def schedSet(dir: String) =
    FrontendFeed.schedule(spark, dir)
      .as[(Long, String, String, Double, Long)].collect().toSet
  private def funnelSet(dir: String) =
    FrontendFeed.funnel(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet

  // one 3-batch store shared by the suite (ingest order = batch id)
  private lazy val store3: String = {
    val d = tmp("3")
    (0 to 2).foreach(k =>
      FrontendFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === k), k))
    d
  }

  // batches 0 and 1 of the same split, never mutated: the crash twin's
  // reference and the growth check's incremental store
  private lazy val store2: String = {
    val d = tmp("2")
    (0 to 1).foreach(k =>
      FrontendFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === k), k))
    d
  }

  private lazy val batchSched =
    SparkEntry.queries("x187_pretrain_frontend")(spark, sf)
      .as[(Long, String, String, Double, Long)].collect().toSet

  test("split-invariance: the 3-batch schedule equals the 1-batch schedule") {
    val d1 = tmp("1")
    FrontendFeed.ingest(spark, d1, docs, 0)
    assert(schedSet(store3) === schedSet(d1))
  }

  test("schedule view is bit-equal to the registered x187 batch query") {
    assert(schedSet(store3) === batchSched)
  }

  test("funnel view is bit-equal to the registered x187b batch query") {
    val batch = SparkEntry.queries("x187b_frontend_funnel")(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(funnelSet(store3) === batch)
  }

  test("a replayed batch id is a no-op (applied stamp)") {
    val before = schedSet(store3)
    FrontendFeed.ingest(spark, store3, docs.filter($"doc_id" % 3 === 1), 1)
    assert(schedSet(store3) === before)
  }

  test("hold-store crash twin: a half-written batch replays to the identical state") {
    // the ONE order-sensitive derivation: "truly-new holdout grams"
    // anti-join history — a crash between the hold append and the stamp
    // must not make the replay see its own rows as history (which would
    // silently skip coverage (b) for historical docs)
    val d = tmp("twin")
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    FrontendFeed.ingest(spark, d, b0, 0)
    // simulate the crash window of batch 1: its hold rows land, no stamp
    val slim1 = ext.Frontend.slimFrame(b1).localCheckpoint()
    val hold1 = ext.Frontend.holdoutGrams(slim1).withColumn("batch", lit(1L))
    BucketStore.appendRows(spark, FrontendFeed.holdStoreDir(d), hold1,
      Seq("g"), FrontendFeed.DefaultBuckets)
    // the replay (a real ingest of batch 1) must land the same state a
    // crash-free run produces
    FrontendFeed.ingest(spark, d, b1, 1)
    assert(schedSet(d) === schedSet(store2))
    assert(funnelSet(d) === funnelSet(store2))
  }

  test("compaction preserves the schedule and funnel, folds stores physically") {
    val preS = schedSet(store3); val preF = funnelSet(store3)
    FrontendFeed.compact(spark, store3)
    assert(schedSet(store3) === preS)
    assert(funnelSet(store3) === preF)
    // hmin physically folds to one row per hash
    val hmin = BucketStore.readBuckets(spark, s"$store3/hmin", None)
    assert(hmin.groupBy($"h").count().filter($"count" > 1).isEmpty)
    FrontendFeed.compact(spark, store3) // idempotent
    assert(schedSet(store3) === preS)
  }

  test("run(): the AvailableNow file-drop pipeline lands the batch-x187 schedule") {
    val in = tmp("in"); val st = tmp("state"); val cp = tmp("cp")
    val full = Tables.documents(spark, sf)
      .withColumn("ingest_ts", lit("2026-01-01 00:00:00").cast("timestamp"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars", $"ingest_ts")
    full.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(in)
    full.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(in)
    FrontendFeed.run(spark, in, st, cp).awaitTermination()
    assert(schedSet(st) === batchSched)
  }

  test("incremental growth equals from-scratch on the grown corpus (prefix check)") {
    val refDir = tmp("growref")
    Tables.documents(spark, sf).filter($"doc_id" % 3 =!= 2)
      .write.parquet(s"$refDir/documents.parquet")
    val batch = SparkEntry.queries("x187_pretrain_frontend")(spark, refDir)
      .as[(Long, String, String, Double, Long)].collect().toSet
    assert(schedSet(store2) === batch)
  }
}
