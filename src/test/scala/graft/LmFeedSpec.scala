package graft

import graft.streaming.{BucketStore, LmFeed}
import org.apache.spark.sql.functions._

/** LmFeed contract (the KmvFeed/PcaFeed discipline): split-invariance
  * (any batch split folds to the identical count tables), replay
  * idempotence (stamp no-op + crash-twin heal), compaction transparency,
  * and BIT-equality of the score views against the registered x40/x172
  * batch queries — incremental == from-scratch, exactly. */
class LmFeedSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"lmfeed$tag").toString

  private lazy val docs = Tables.documents(spark, sf)
    .select($"doc_id", $"text").localCheckpoint()

  private def uniSet(dir: String) =
    LmFeed.uniCounts(spark, dir).as[(String, Long)].collect().toSet
  private def biSet(dir: String) =
    LmFeed.biCounts(spark, dir).as[(String, String, Long)].collect().toSet
  private def scores(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Double)].collect().toSet

  // one 3-batch store shared by the suite (ingest order = batch id)
  private lazy val store3: String = {
    val d = tmp("3")
    (0 to 2).foreach(k =>
      LmFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === k), k))
    d
  }

  test("split-invariance: 3-batch ingest folds to the 1-batch tables") {
    val d1 = tmp("1")
    LmFeed.ingest(spark, d1, docs, 0)
    assert(uniSet(store3) === uniSet(d1))
    assert(biSet(store3) === biSet(d1))
  }

  test("scoreAddOne is bit-equal to the registered x40 batch query") {
    val batch = scores(SparkEntry.queries("x40_bigram_lm_score")(spark, sf))
    assert(scores(LmFeed.scoreAddOne(spark, store3, docs)) === batch)
  }

  test("scoreKneserNey is bit-equal to the registered x172 batch query") {
    val batch = scores(SparkEntry.queries("x172_kneser_ney_score")(spark, sf))
    assert(scores(LmFeed.scoreKneserNey(spark, store3, docs)) === batch)
  }

  test("a replayed batch id is a no-op (applied stamp)") {
    val before = (uniSet(store3), biSet(store3))
    LmFeed.ingest(spark, store3, docs.filter($"doc_id" % 3 === 1), 1)
    assert((uniSet(store3), biSet(store3)) === before)
  }

  test("crash-window twin partials are healed by the (batch, key) dedup") {
    // simulate: append-commit landed, the stamp write did not, and the
    // replay re-appended the identical partials — the read must fold
    // each (batch, key) partial ONCE
    val d = tmp("twin")
    val b0 = docs.filter($"doc_id" % 3 === 0)
    LmFeed.ingest(spark, d, b0, 0)
    val before = (uniSet(d), biSet(d))
    val uniPartial = b0.select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).cast("long").as("c"))
      .withColumn("batch", lit(0L))
    BucketStore.appendRows(spark, s"$d/uni", uniPartial, Seq("tok"),
      LmFeed.DefaultBuckets)
    assert(uniSet(d) === before._1, "twin partial double-counted")
    assert(biSet(d) === before._2)
  }

  test("compaction preserves tables and scores, and folds the store physically") {
    val preU = uniSet(store3); val preB = biSet(store3)
    val preScores = scores(LmFeed.scoreAddOne(spark, store3, docs))
    LmFeed.compact(spark, store3)
    assert(uniSet(store3) === preU)
    assert(biSet(store3) === preB)
    assert(scores(LmFeed.scoreAddOne(spark, store3, docs)) === preScores)
    // physically folded: one visible row per key (batch partials gone)
    assert(BucketStore.readBuckets(spark, s"$store3/uni", None).count()
      === preU.size.toLong)
    assert(BucketStore.readBuckets(spark, s"$store3/bi", None).count()
      === preB.size.toLong)
    // compaction is idempotent
    LmFeed.compact(spark, store3)
    assert(uniSet(store3) === preU)
    // and ingest composes after compaction (fresh ids keep counting)
    LmFeed.ingest(spark, store3, docs.filter($"doc_id" % 3 === 0), 7)
    val u = LmFeed.uniCounts(spark, store3).as[(String, Long)].collect().toMap
    val twice = docs.filter($"doc_id" % 3 === 0)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val all = docs.select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    all.foreach { case (t, c) =>
      assert(u(t) === c + twice.getOrElse(t, 0L), s"token $t") }
  }

  test("incremental growth equals from-scratch on the grown corpus (prefix check)") {
    // after the first TWO batches only, the feed must equal a batch run
    // over exactly those documents — the growing-corpus contract, not
    // just the final fixpoint
    val d = tmp("grow")
    val prefix = docs.filter($"doc_id" % 3 =!= 2)
    LmFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 0), 0)
    LmFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 1), 1)
    val refDir = tmp("growref")
    prefix.write.parquet(s"$refDir/documents.parquet")
    val batch = scores(SparkEntry.queries("x40_bigram_lm_score")(spark, refDir))
    assert(scores(LmFeed.scoreAddOne(spark, d, prefix)) === batch)
    val batchKn = scores(SparkEntry.queries("x172_kneser_ney_score")(spark, refDir))
    assert(scores(LmFeed.scoreKneserNey(spark, d, prefix)) === batchKn)
  }
}
