package graft

import graft.streaming.{BucketStore, MinHashFeed}

/** MinHashFeed contract (LmFeedSpec's shape): split-invariance (any
  * batch split folds to identical pair/survivor views), bit-equality of
  * the pairs view against the registered batch x2 on the concatenated
  * corpus, survivor agreement with an independent union-find over those
  * pairs, growing-corpus prefix equality, replay idempotence, crash-twin
  * healing, and compaction transparency. */
class MinHashFeedSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"mhfeed$tag").toString

  private lazy val docs = Tables.documents(spark, sf)
    .select($"doc_id", $"text").localCheckpoint()

  private def pairSet(dir: String) =
    MinHashFeed.pairs(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
  private def survivorSet(dir: String) =
    MinHashFeed.survivors(spark, dir)
      .as[(Long, Boolean, Boolean)].collect().toSet

  private lazy val batchPairs =
    SparkEntry.queries("x2_minhash_lsh_pairs")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet

  // one 3-batch feed shared by the suite (ingest order = batch id)
  private lazy val store3: String = {
    val d = tmp("3")
    (0 to 2).foreach(k =>
      MinHashFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === k), k))
    d
  }

  test("pairs view is bit-equal to batch x2 on the concatenated corpus") {
    assert(pairSet(store3) === batchPairs)
  }

  test("split-invariance: 3-batch ingest equals 1-batch ingest") {
    val d1 = tmp("1")
    MinHashFeed.ingest(spark, d1, docs, 0)
    assert(pairSet(store3) === pairSet(d1))
    assert(survivorSet(store3) === survivorSet(d1))
  }

  test("survivors match an independent union-find over the batch x2 pairs") {
    // driver-side union-find — no shared code with the feed's CC path
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    batchPairs.foreach { case (a, b, _, _, _, _) => union(a, b) }
    val clustered = batchPairs.flatMap(p => Seq(p._1, p._2))
    val minOf = clustered.groupBy(find).map { case (r, ms) => r -> ms.min }
    val expect = docs.select($"doc_id").as[Long].collect().map { id =>
      if (!clustered(id)) (id, false, true)
      else (id, true, minOf(find(id)) == id)
    }.toSet
    assert(survivorSet(store3) === expect)
  }

  test("incremental growth equals from-scratch on the grown corpus (prefix check)") {
    val d = tmp("grow")
    val prefix = docs.filter($"doc_id" % 3 =!= 2)
    MinHashFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 0), 0)
    MinHashFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 1), 1)
    val refDir = tmp("growref")
    prefix.write.parquet(s"$refDir/documents.parquet")
    val batch = SparkEntry.queries("x2_minhash_lsh_pairs")(spark, refDir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(pairSet(d) === batch)
  }

  test("a replayed batch id is a no-op (applied stamp)") {
    val before = (pairSet(store3), survivorSet(store3))
    MinHashFeed.ingest(spark, store3, docs.filter($"doc_id" % 3 === 1), 1)
    assert((pairSet(store3), survivorSet(store3)) === before)
  }

  test("crash-twin duplicate appends are healed by the logical-key dedup") {
    // simulate a crash between append-commit and stamp: the replay
    // re-appends BYTE-IDENTICAL rows (replay determinism) next to the
    // committed originals — every view must still fold each logical row
    // once. Recompute batch 0's rows exactly as its ingest did (empty
    // history) and append them a second time, bypassing the stamp.
    import graft.ext.Dedup
    val d = tmp("twin")
    val b0 = docs.filter($"doc_id" % 3 === 0)
    MinHashFeed.ingest(spark, d, b0, 0)
    val before = (pairSet(d), survivorSet(d))
    val shn = Dedup.shingleHashesWithCount(b0)
    val bands = Dedup.bandRows(Dedup.signatures(b0))
    val verified = Dedup.exactJaccard(Dedup.pairsFromBandRows(bands), shn)
      .filter($"jac" >= MinHashFeed.Threshold)
    val nb = MinHashFeed.DefaultBuckets
    BucketStore.appendRows(spark, s"$d/pairs", verified, Seq("doc_a", "doc_b"), nb)
    BucketStore.appendRows(spark, s"$d/bands", bands, Seq("bh"), nb)
    BucketStore.appendRows(spark, s"$d/shingles",
      shn.select($"doc_id", $"g"), Seq("doc_id"), nb)
    assert((pairSet(d), survivorSet(d)) === before, "twin rows double-counted")
    // and a later batch still composes correctly on top of the twins
    MinHashFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 1), 1)
    MinHashFeed.ingest(spark, d, docs.filter($"doc_id" % 3 === 2), 2)
    assert(pairSet(d) === batchPairs, "post-twin ingest diverged from batch x2")
  }

  test("compaction preserves views and folds each store physically") {
    val preP = pairSet(store3); val preS = survivorSet(store3)
    MinHashFeed.compact(spark, store3)
    assert(pairSet(store3) === preP)
    assert(survivorSet(store3) === preS)
    // physically folded: one visible row per logical key
    assert(BucketStore.readBuckets(spark, s"$store3/pairs", None).count()
      === preP.size.toLong)
    val nDocs = docs.count()
    assert(BucketStore.readBuckets(spark, s"$store3/docs", None).count() === nDocs)
    // compaction is idempotent, and ingest composes after it
    MinHashFeed.compact(spark, store3)
    assert(pairSet(store3) === preP)
  }
}
