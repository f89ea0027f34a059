package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.PqIndexFeed

/** Incremental PQ ingestion — the feed must be a pure refactoring of
  * the batch encode: frozen codebooks + per-batch encode + append give
  * the SAME code table as encoding the whole accumulated corpus at
  * once against the same codebooks, replays are no-ops, and a search
  * against the store equals the directly-computed shortlist.
  */
class PqIndexFeedSpec extends SparkSuite {
  import spark.implicits._

  private lazy val e = Tables.embeddings(spark, sf)
  private lazy val seedPart = e.filter($"vec_id" < 300)
  private lazy val batch1 = e.filter($"vec_id" >= 300 && $"vec_id" < 400)
  private lazy val batch2 = e.filter($"vec_id" >= 400)

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("pq-feed").toString
    PqIndexFeed.init(seedPart, dir, numBuckets = 64)
    dir
  }

  private def codesSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int)] =
    df.select($"vec_id", $"sub", $"code").as[(Long, Int, Int)].collect().toSet

  test("incremental encode+append equals one-shot encode of the accumulated corpus") {
    val dir = freshStore()
    PqIndexFeed.applyBatch(batch1, dir)
    PqIndexFeed.applyBatch(batch2, dir)
    val stored = codesSet(PqIndexFeed.readCodes(spark, dir))
    val direct = codesSet(ext.Pq.encode(e, PqIndexFeed.readCodebooks(spark, dir)))
    assert(stored === direct)
    assert(stored.size === e.count() * ext.Pq.M)
  }

  test("replaying a batch appends nothing (vec_id-pruned anti-join)") {
    val dir = freshStore()
    PqIndexFeed.applyBatch(batch1, dir)
    val before = PqIndexFeed.readCodes(spark, dir).count()
    PqIndexFeed.applyBatch(batch1, dir) // replay
    assert(PqIndexFeed.readCodes(spark, dir).count() === before)
  }

  test("store-backed ADC shortlist equals the directly-computed shortlist; compaction changes nothing") {
    val dir = freshStore()
    PqIndexFeed.applyBatch(batch1, dir)
    PqIndexFeed.applyBatch(batch2, dir)
    val queries = e.filter($"vec_id" < 5)
    def shortlist(): Set[(Long, Long, Long)] =
      PqIndexFeed.searchStore(queries, dir, reRank = 20)
        .select($"query_id", $"neighbor_id", $"adc")
        .as[(Long, Long, Long)].collect().toSet
    val viaStore = shortlist()
    // direct: same frozen codebooks, same corpus, computed without the store
    val cents = PqIndexFeed.readCodebooks(spark, dir)
    val lut = ext.Pq.subvectors(ext.Ivf.quantized(ext.Pq.normalized(queries)))
      .select($"vec_id".as("query_id"), $"sub", $"sq")
      .join(cents, "sub")
      .select($"query_id", $"sub", $"code",
        aggregate(zip_with($"sq", $"cq", (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("d"))
    val direct = ext.Pq.encode(e, cents)
      .withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(lut), Seq("sub", "code"))
      .filter($"neighbor_id" =!= $"query_id")
      .groupBy($"query_id", $"neighbor_id").agg(sum($"d").as("adc"))
    val directTop = graft.plans.TopKPerKey.topKPerKey(
        direct, Seq("query_id"), Seq(("adc", true), ("neighbor_id", true)), k = 20)
      .select($"query_id", $"neighbor_id", $"adc")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaStore === directTop)
    PqIndexFeed.compact(spark, dir)
    assert(shortlist() === directTop)
  }

  test("reads tolerate rebuild-resurrected orphan twins; compaction heals them") {
    val dir = freshStore()
    PqIndexFeed.applyBatch(batch1, dir)
    val clean = codesSet(PqIndexFeed.readCodes(spark, dir))
    // simulate a crashed append whose orphan the next rebuildManifest
    // resurrects: physically duplicate one committed file in its bucket
    // dir (the replayed twin is byte-identical by determinism), then
    // rebuild — the manifest now lists orphan AND twin
    val codes = new java.io.File(s"$dir/codes")
    val bucketDir = codes.listFiles().filter(_.getName.startsWith("b="))
      .find(_.listFiles().exists(_.getName.endsWith(".parquet"))).get
    val src = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(src.toPath, new java.io.File(bucketDir, "part-orphan.parquet").toPath)
    graft.streaming.BucketStore.rebuildManifest(spark, s"$dir/codes")
    // the physical store now carries duplicate rows…
    val raw = spark.read.parquet(s"$dir/codes").count()
    assert(raw > clean.size, "the orphan twin must be physically present")
    // …but the read contract dedups them away
    val deduped = PqIndexFeed.readCodes(spark, dir)
    assert(deduped.count() === clean.size.toLong)
    assert(codesSet(deduped) === clean)
    // and compaction heals the store permanently
    PqIndexFeed.compact(spark, dir)
    assert(spark.read.parquet(s"$dir/codes").count() === clean.size.toLong)
  }

  test("compaction leaves the session's partition-overwrite mode as it was") {
    // a session of its own, so no earlier compaction in this JVM can
    // have set the mode already
    val s2 = spark.newSession()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val dir = freshStore()
    PqIndexFeed.applyBatch(batch1, dir)
    val before = s2.conf.getOption(key)
    PqIndexFeed.compact(s2, dir)
    assert(s2.conf.getOption(key) === before)
    assert(codesSet(PqIndexFeed.readCodes(spark, dir))
      === codesSet(ext.Pq.encode(e.filter($"vec_id" < 400),
        PqIndexFeed.readCodebooks(spark, dir))))
  }
}
