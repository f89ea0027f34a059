package graft

import graft.streaming.WeeklyFeed
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming feed semantics, driven by real file drops (one parquet file
  * per "week") — micro-batch grain dedup, idempotent re-delivery, and the
  * tumbling weekly aggregation via a memory sink. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def eventsWeek(week: Int) = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    .filter(weekofyear($"ts") === week)

  test("streaming CDC: foreachBatch MERGE converges to the batch merge and replays idempotently") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("tag", StringType),
      StructField("v", DoubleType), StructField("seq", LongType)))
    val drop = tmpDir("cdc-drop"); val store = tmpDir("cdc-store") + "/snap"
    val cp = tmpDir("cdc-cp")
    // drop 1: initial images
    Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L), (3L, "c", 30.0, 1L))
      .toDF("k", "tag", "v", "seq").coalesce(1).write.mode("append").parquet(drop)
    graft.streaming.Cdc.runCdc(spark, drop, schema, store, cp, Seq("k"), "seq")
      .awaitTermination()
    // drop 2: update k=2 twice in one batch (newest seq must win),
    // insert k=9
    Seq((2L, "B1", 21.0, 2L), (2L, "B2", 22.0, 3L), (9L, "new", 1.0, 2L))
      .toDF("k", "tag", "v", "seq").coalesce(1).write.mode("append").parquet(drop)
    graft.streaming.Cdc.runCdc(spark, drop, schema, store, cp, Seq("k"), "seq")
      .awaitTermination()
    val got = graft.streaming.Cdc.readStore(spark, store).orderBy($"k")
      .select($"k", $"tag", $"v").as[(Long, String, Double)].collect().toSeq
    assert(got === Seq((1L, "a", 10.0), (2L, "B2", 22.0), (3L, "c", 30.0), (9L, "new", 1.0)))
    // replay everything into a fresh checkpoint + store: same final state
    val store2 = tmpDir("cdc-store2") + "/snap"
    graft.streaming.Cdc.runCdc(spark, drop, schema, store2, tmpDir("cdc-cp2"), Seq("k"), "seq")
      .awaitTermination()
    val replay = graft.streaming.Cdc.readStore(spark, store2).orderBy($"k")
      .select($"k", $"tag", $"v").as[(Long, String, Double)].collect().toSeq
    assert(replay === got)

    // drop 3: a STALE image (seq below the store's) re-delivered in a
    // later batch must NOT overwrite the newer store row — newest-wins
    // is global, not per-batch. Also the scale contract: the merge must
    // rewrite ONLY the buckets the batch touches.
    def fileState(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = fileState()
    Seq((2L, "STALE", 0.0, 0L))
      .toDF("k", "tag", "v", "seq").coalesce(1).write.mode("append").parquet(drop)
    graft.streaming.Cdc.runCdc(spark, drop, schema, store, cp, Seq("k"), "seq")
      .awaitTermination()
    val afterStale = graft.streaming.Cdc.readStore(spark, store).filter($"k" === 2L)
      .select($"tag", $"v").as[(String, Double)].head()
    assert(afterStale === ("B2", 22.0), s"stale image overwrote store: $afterStale")
    // partition-targeted merge: the batch touches exactly one bucket
    // (k=2's), so every OTHER bucket's files must be bit-identical on
    // disk — same paths, sizes, mtimes
    val after = fileState()
    val touchedDir = s"/b=" // bucket dirs look like .../b=<k>/
    val untouchedBefore = before.filter { case (p, _) =>
      !p.contains(s"b=${bucketOf(2L)}") }
    assert(untouchedBefore.nonEmpty, "test needs at least one untouched bucket")
    untouchedBefore.foreach { case (p, st) =>
      assert(after.get(p).contains(st), s"untouched bucket file changed: $p ($touchedDir)")
    }
    // one file per bucket dir (round 8): every write repartitions on b
    // before partitionBy, so the store's TOTAL file count stays at the
    // bucket count — the root listing every later merge pays is
    // O(buckets), not O(buckets × writer-tasks) growing with history
    after.keys.groupBy(p => p.substring(0, p.lastIndexOf('/'))).foreach {
      case (d, fs) => assert(fs.size == 1, s"bucket dir $d has ${fs.size} files; expected 1")
    }
  }

  /** Mirror of Cdc's bucket hash for the single-long-key test store. */
  private def bucketOf(k: Long): Int = {
    import spark.implicits._
    Seq(k).toDF("k")
      .select(pmod(xxhash64($"k"), lit(graft.streaming.Cdc.DefaultBuckets.toLong))
        .cast("int")).as[Int].head()
  }

  test("scd2Apply versions: closed rows pass through, re-applied updates are no-ops") {
    val d = java.sql.Date.valueOf(_: String)
    val hist = Seq(
      (1L, "x", d("2000-01-01"), Option(d("2001-01-01"))), // closed version
      (1L, "y", d("2001-01-01"), Option.empty[java.sql.Date]), // open
      (2L, "z", d("2000-06-01"), Option.empty[java.sql.Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val upd = Seq((1L, "y2", d("2002-01-01")), (2L, "z", d("2002-01-01")))
      .toDF("k", "attr", "ts")
    val once = etl.Etl.scd2Apply(hist, upd, Seq("k"), "ts")
    val rows = once.orderBy($"k", $"valid_from")
      .as[(Long, String, java.sql.Date, Option[java.sql.Date])].collect().toSeq
    assert(rows === Seq(
      (1L, "x", d("2000-01-01"), Some(d("2001-01-01"))), // untouched closed
      (1L, "y", d("2001-01-01"), Some(d("2002-01-01"))), // closed by update
      (1L, "y2", d("2002-01-01"), None), // new open version
      (2L, "z", d("2000-06-01"), None))) // unchanged update → no-op
    // idempotence: applying the same updates to the result changes nothing
    val twice = etl.Etl.scd2Apply(once, upd, Seq("k"), "ts")
      .orderBy($"k", $"valid_from")
      .as[(Long, String, java.sql.Date, Option[java.sql.Date])].collect().toSeq
    assert(twice === rows)
  }

  test("file-source feed: grain dedup + foreachBatch upsert, idempotent on re-delivery") {
    val store = tmpDir("store") + "/snap"; val cp1 = tmpDir("cp1")
    val flat = tmpDir("flat") // the watched drop directory
    eventsWeek(1).coalesce(1).write.mode("overwrite").parquet(flat)

    WeeklyFeed.runFeed(spark, flat, store, cp1).awaitTermination()
    val afterFirst = graft.model.VersionedStore.read(spark, store)
    val expectGrain = eventsWeek(1).select($"user_id", to_date($"ts").as("day"))
      .distinct().count()
    assert(afterFirst.count() === expectGrain)

    // drop week 2 + re-deliver week 1 (late/duplicate file): counts only grow
    // by week-2's new grain keys
    eventsWeek(2).coalesce(1).write.mode("append").parquet(flat)
    eventsWeek(1).coalesce(1).write.mode("append").parquet(flat)
    WeeklyFeed.runFeed(spark, flat, store, cp1).awaitTermination()
    val afterSecond = graft.model.VersionedStore.read(spark, store)
    val expectBoth = eventsWeek(1).unionByName(eventsWeek(2))
      .select($"user_id", to_date($"ts").as("day")).distinct().count()
    assert(afterSecond.count() === expectBoth)
    // grain holds: no (user, day) duplicated
    assert(afterSecond.groupBy("user_id", "day").count().filter($"count" > 1).isEmpty)

    // a re-run with no new file is a no-op
    WeeklyFeed.runFeed(spark, flat, store, cp1).awaitTermination()
    assert(graft.model.VersionedStore.read(spark, store).count() === afterSecond.count())

    // idempotence: replaying everything into a fresh checkpoint+store
    // converges to the same state
    val store2 = tmpDir("store2") + "/snap"
    WeeklyFeed.runFeed(spark, flat, store2, tmpDir("cp2")).awaitTermination()
    val replay = graft.model.VersionedStore.read(spark, store2)
    assert(replay.count() === afterSecond.count())
  }

  test("stream-static broadcast enrichment matches the batch join, no stream shuffle") {
    val flat = tmpDir("enrich")
    Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .coalesce(1).write.mode("overwrite").parquet(flat)
    // bounded dim: a per-user segment table derived once (static side)
    val dim = Tables.events(spark, sf).select($"user_id").distinct()
      .withColumn("segment", pmod($"user_id", lit(3L)))
    val q = WeeklyFeed.enriched(WeeklyFeed.readFeed(spark, flat), dim, "user_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("enriched_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("enriched_out")
      .select($"event_id", $"user_id", $"segment")
    val batch = Tables.events(spark, sf)
      .join(broadcast(dim), "user_id")
      .select($"event_id", $"user_id", $"segment")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming sessionization (flatMapGroupsWithState) matches batch cumsum sessions") {
    val flat = tmpDir("sess")
    Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .coalesce(1).write.mode("overwrite").parquet(flat)
    val q = graft.streaming.Sessionize.sessionStream(
        graft.streaming.WeeklyFeed.readFeed(spark, flat))
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sessions_out")
      .select($"user_id", $"start_us", $"end_us", $"n_events")
    val batch = SparkEntry.queries("x13_sessionize")(spark, sf)
      .select($"user_id", $"start_us", $"end_us", $"n_events")
    // append mode only emits CLOSED sessions; every emitted session must
    // exactly match a batch session, and most batch sessions must close
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty, "streaming emitted a session batch doesn't have")
    val unclosed = batch.count() - streamed.count()
    // at most one open (never-emitted) session per user can remain
    val users = Tables.events(spark, sf).select($"user_id").distinct().count()
    assert(unclosed >= 0 && unclosed <= users, s"unclosed=$unclosed users=$users")
  }

  test("stream-stream interval join (purchase⋈view attribution) matches the batch join") {
    val flat = tmpDir("ssj")
    Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .coalesce(1).write.mode("overwrite").parquet(flat)
    val q = graft.streaming.Attribution.attribution(WeeklyFeed.readFeed(spark, flat))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("attr_out")
    val ev = Tables.events(spark, sf)
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val v = ev.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id".as("vu"), $"ts".as("v_ts"))
    val batch = p.join(v, $"user_id" === $"vu" &&
        $"v_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"v_ts" <= $"p_ts")
      .select($"purchase_id", $"user_id", $"p_ts", $"view_id", $"v_ts")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("tumbling weekly aggregation over the feed matches the batch computation") {
    val flat = tmpDir("flat2")
    Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .coalesce(1).write.mode("overwrite").parquet(flat)
    val q = WeeklyFeed.weeklyAgg(WeeklyFeed.readFeed(spark, flat))
      .writeStream.outputMode("complete")
      .format("memory").queryName("weekly_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("weekly_out")
      .select($"window.start".as("wstart"), $"event_type", $"n_events", $"sum_value")
    val batch = Tables.events(spark, sf)
      .groupBy(window($"ts", "7 days").as("window"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select($"window.start".as("wstart"), $"event_type", $"n_events", $"sum_value")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming doc dedup keeps one survivor per content hash; curation maps match batch") {
    val docsWithTs = Tables.documents(spark, sf)
      .withColumn("ingest_ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val flat = tmpDir("docs")
    docsWithTs.coalesce(1).write.mode("overwrite").parquet(flat)
    // re-deliver the whole drop (duplicate file inside the watermark window)
    docsWithTs.coalesce(1).write.mode("append").parquet(flat)

    val q = graft.streaming.DocFeed.dedupStream(
        graft.streaming.DocFeed.readDocs(spark, flat))
      .writeStream.outputMode("append")
      .format("memory").queryName("docs_dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("docs_dedup")
    // one survivor per distinct content hash, despite the double delivery
    val expect = Tables.documents(spark, sf).select(md5($"text")).distinct().count()
    assert(streamed.count() === expect)
    assert(streamed.groupBy($"content_hash").count().filter($"count" > 1).isEmpty)

    // the stateless curation stage emits exactly the batch x8/x24 values
    val q2 = graft.streaming.DocFeed.curateStream(
        graft.streaming.DocFeed.readDocs(spark, flat))
      .writeStream.outputMode("append")
      .format("memory").queryName("docs_curated")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val curated = spark.table("docs_curated").distinct() // double delivery → dedupe
    val batchScrub = SparkEntry.queries("x24_stopword_scrub")(spark, sf)
      .join(SparkEntry.queries("x8_quality_score")(spark, sf)
        .select($"doc_id", $"uniq_ratio"), "doc_id")
      .select($"doc_id", $"uniq_ratio", $"clean_text", $"n_removed")
    assert(curated.exceptAll(batchScrub).isEmpty && batchScrub.exceptAll(curated).isEmpty)
  }
}
