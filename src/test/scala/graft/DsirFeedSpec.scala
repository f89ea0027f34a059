package graft

import graft.streaming.{BucketStore, DsirFeed}
import org.apache.spark.sql.functions._

/** DsirFeed contract (the LmFeed discipline): split-invariance (any
  * batch split folds to the identical count tables), replay idempotence
  * (stamp no-op + crash-twin heal), compaction transparency, and
  * BIT-equality of the [[DsirFeed.selected]] view against the registered
  * x177 batch query on the concatenated corpus — incremental ==
  * from-scratch, exactly, including the growing-corpus prefix. */
class DsirFeedSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"dsirfeed$tag").toString

  private lazy val docs = Tables.documents(spark, sf)
    .select($"doc_id", $"text", $"lang").localCheckpoint()

  private def cntSet(dir: String) =
    DsirFeed.bucketCounts(spark, dir).as[(Long, Long, Long)].collect().toSet
  private def selSet(dir: String) =
    DsirFeed.selected(spark, dir)
      .as[(Long, Long, Option[Double], Long)].collect().toSet

  // one 3-batch store shared by the suite (ingest order = batch id)
  private lazy val store3: String = {
    val d = tmp("3")
    (0 to 2).foreach(k =>
      DsirFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === k), k))
    d
  }

  test("split-invariance: 3-batch ingest folds to the 1-batch state") {
    val d1 = tmp("1")
    DsirFeed.ingest(spark, d1, docs, 0)
    assert(cntSet(store3) === cntSet(d1))
    assert(selSet(store3) === selSet(d1))
  }

  test("selected view is bit-equal to the registered x177 batch query") {
    val batch = SparkEntry.queries("x177_dsir_select")(spark, sf)
      .as[(Long, Long, Option[Double], Long)].collect().toSet
    assert(selSet(store3) === batch)
  }

  test("a replayed batch id is a no-op (applied stamp)") {
    val before = cntSet(store3)
    DsirFeed.ingest(spark, store3, docs.filter($"doc_id" % 3 === 1), 1)
    assert(cntSet(store3) === before)
  }

  test("crash-window twin partials are healed by the (batch, key) dedup") {
    val d = tmp("twin")
    val b0 = docs.filter($"doc_id" % 3 === 0)
    DsirFeed.ingest(spark, d, b0, 0)
    val before = (cntSet(d), selSet(d))
    // replay the identical cnt partial as the crash window would
    val twin = ext.Dsir.occurrences(b0).withColumnRenamed("b", "fb")
      .groupBy($"fb")
      .agg(count(lit(1)).cast("long").as("cr"),
        count(when($"lang" === "en", 1)).cast("long").as("ct"))
      .withColumn("batch", lit(0L))
    BucketStore.appendRows(spark, s"$d/cnt", twin, Seq("fb"),
      DsirFeed.DefaultBuckets)
    assert(cntSet(d) === before._1, "twin partial double-counted")
    assert(selSet(d) === before._2)
  }

  test("compaction preserves counts and selection, folds the store physically") {
    val preC = cntSet(store3); val preS = selSet(store3)
    DsirFeed.compact(spark, store3)
    assert(cntSet(store3) === preC)
    assert(selSet(store3) === preS)
    assert(BucketStore.readBuckets(spark, s"$store3/cnt", None).count()
      === preC.size.toLong)
    DsirFeed.compact(spark, store3) // idempotent
    assert(cntSet(store3) === preC)
    // ingest composes after compaction (fresh ids keep counting): a
    // shifted-id re-drop of batch 0 adds its occurrence mass once
    val shifted = docs.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text", $"lang")
    DsirFeed.ingest(spark, store3, shifted, 7)
    val after = DsirFeed.bucketCounts(spark, store3)
      .agg(sum($"cr")).as[Long].head()
    val base = preC.toSeq.map(_._2).sum
    val batchMass = ext.Dsir.occurrences(shifted).count()
    assert(after === base + batchMass)
  }

  test("run(): the AvailableNow file-drop pipeline lands the batch-x177 state") {
    val in = tmp("in"); val st = tmp("state"); val cp = tmp("cp")
    val full = Tables.documents(spark, sf)
      .withColumn("ingest_ts", lit("2026-01-01 00:00:00").cast("timestamp"))
    // two file drops; maxFilesPerTrigger=1 → one micro-batch each, and
    // ingest order doesn't matter (sums + immutable facts)
    full.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(in)
    full.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(in)
    graft.streaming.DsirFeed.run(spark, in, st, cp).awaitTermination()
    val batch = SparkEntry.queries("x177_dsir_select")(spark, sf)
      .as[(Long, Long, Option[Double], Long)].collect().toSet
    assert(selSet(st) === batch)
  }

  test("incremental growth equals from-scratch on the grown corpus (prefix check)") {
    val d = tmp("grow")
    DsirFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 0), 0)
    DsirFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 1), 1)
    val refDir = tmp("growref")
    Tables.documents(spark, sf).filter($"doc_id" % 3 =!= 2)
      .write.parquet(s"$refDir/documents.parquet")
    val batch = SparkEntry.queries("x177_dsir_select")(spark, refDir)
      .as[(Long, Long, Option[Double], Long)].collect().toSet
    assert(selSet(d) === batch)
  }
}
