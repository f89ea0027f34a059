package graft

import graft.sources.HttpJson
import org.apache.spark.sql.functions._

/** S4's HTTP/JSON source and S5b's MERGE upsert beyond the oracle row:
  * the fetch pipeline with an injected transport (zero-egress container)
  * and MERGE's three-way row disposition on hand-built frames. */
class SourcesSpec extends SparkSuite {
  import spark.implicits._

  private val geojson =
    """{"type":"FeatureCollection","features":[
      |{"id":"01","properties":{"name":"Alabama"},"geometry":{"type":"MultiPolygon"}},
      |{"id":"06","properties":{"name":"California"},"geometry":{"type":"Polygon"}},
      |{"id":"48","properties":{"name":"Texas"},"geometry":{"type":"Polygon"}}
      |]}""".stripMargin

  test("geoFeatures flattens a fetched FeatureCollection to one row per feature") {
    var fetched: List[String] = Nil
    val fake: HttpJson.Transport = { url => fetched ::= url; geojson }
    val url = "https://example.invalid/us-states.json"
    val rows = HttpJson.geoFeatures(spark, url, fake)
      .orderBy($"feature_id")
      .as[(String, String, String)].collect().toSeq
    assert(fetched === List(url), "transport called exactly once with the url")
    assert(rows === Seq(
      ("01", "Alabama", "MultiPolygon"),
      ("06", "California", "Polygon"),
      ("48", "Texas", "Polygon")))
  }

  test("geoFeatures joins to a report frame like the reference choropleth") {
    // the reference joins state → value onto the GeoJSON ids
    // (weekly-report.py:149-157); same shape here, broadcast-dim sized
    val geo = HttpJson.geoFeatures(spark, "u", _ => geojson)
    val report = Seq(("Alabama", 12L), ("Texas", 40L)).toDF("state", "beds")
    val joined = geo.join(report, $"name" === $"state", "left")
      .select($"feature_id", coalesce($"beds", lit(0L)).as("beds"))
      .orderBy($"feature_id").as[(String, Long)].collect().toSeq
    assert(joined === Seq(("01", 12L), ("06", 0L), ("48", 40L)))
  }

  test("geoFeatures fails loudly on malformed JSON and non-FeatureCollection payloads") {
    // a 200 response carrying an HTML maintenance page: FAILFAST parse
    intercept[Exception] {
      HttpJson.geoFeatures(spark, "u", _ => "<html>down for maintenance</html>").collect()
    }
    // valid JSON that is NOT a FeatureCollection: raise, never 0 rows
    val e = intercept[Exception] {
      HttpJson.geoFeatures(spark, "https://example.invalid/x.json",
        _ => """{"type":"Topology"}""").collect()
    }
    assert(e.getMessage != null)
  }

  test("merge: update matched, insert new, retain rest — and idempotent re-merge") {
    val current = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v")
    val updates = Seq((2L, "B", 99.0), (9L, "new", 1.0)).toDF("k", "tag", "v")
    val merged = etl.Etl.merge(current, updates, Seq("k"))
    val got = merged.orderBy($"k").as[(Long, String, Double)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 10.0), // retained
      (2L, "B", 99.0), // updated
      (3L, "c", 30.0), // retained
      (9L, "new", 1.0))) // inserted
    // re-applying the same update batch changes nothing
    val again = etl.Etl.merge(merged, updates, Seq("k"))
      .orderBy($"k").as[(Long, String, Double)].collect().toSeq
    assert(again === got)
  }

  test("versioned store: linear history, time travel, O(1) rollback, compaction") {
    import graft.model.VersionedStore
    val root = java.nio.file.Files.createTempDirectory("graft-vstore").toString
    val v1 = VersionedStore.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "tag"), root)
    val v2 = VersionedStore.commit(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "tag"), root)
    assert((v1, v2) === (1, 2))
    assert(VersionedStore.read(spark, root).count() === 3)
    // time travel: version 1 still fully readable
    assert(VersionedStore.read(spark, root, Some(1))
      .orderBy($"k").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // rollback is a pointer swap; v2 stays readable explicitly
    VersionedStore.rollback(root, 1)
    assert(VersionedStore.read(spark, root).count() === 2)
    assert(VersionedStore.read(spark, root, Some(2)).count() === 3)
    // a fragmented commit (many tiny files) compacts into few, data intact
    VersionedStore.rollback(root, 2)
    VersionedStore.commit(
      VersionedStore.read(spark, root).repartition(16), root)
    val before = VersionedStore.read(spark, root)
    val v4 = VersionedStore.compact(spark, root, targetRowsPerFile = 1000)
    val after = VersionedStore.read(spark, root)
    assert(after.inputFiles.length < before.inputFiles.length)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    assert(VersionedStore.latestVersion(root) === v4)
  }

  test("versioned store: z-ordered compaction clusters the rewrite and prunes scans") {
    import graft.model.VersionedStore
    val root = java.nio.file.Files.createTempDirectory("graft-vstore-z").toString
    val base = Tables.lineitem(spark, sf).select(
      datediff($"l_shipdate", to_date(lit("1992-01-01"))).as("day"),
      $"l_partkey".cast("int").as("part"),
      $"l_quantity")
    VersionedStore.commit(base.repartition(16), root) // fragmented, unclustered
    val total = base.count()
    def boxRows(): Long = {
      val q = VersionedStore.read(spark, root)
        .filter($"day".between(1500, 2000) && $"part".between(50, 100))
      q.collect()
      flattenPlan(q.queryExecution.executedPlan)
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
    }
    assert(boxRows() === total, "unclustered store should read everything")
    val before = VersionedStore.read(spark, root)
    val v = VersionedStore.compact(spark, root, targetRowsPerFile = total / 12,
      zorderBy = Seq("day", "part"))
    assert(VersionedStore.latestVersion(root) === v)
    val after = VersionedStore.read(spark, root)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    assert(boxRows() <= total / 2,
      s"z-ordered compaction pruned too little: ${boxRows()} of $total")
  }

  test("versioned store: commit after rollback never clobbers rolled-past history") {
    import graft.model.VersionedStore
    // drive through an explicit file:/// URI — all store IO goes through
    // the Hadoop FileSystem API, never java.io.File
    val root = "file://" +
      java.nio.file.Files.createTempDirectory("graft-vstore-rb").toString
    VersionedStore.commit(Seq((1L, "a")).toDF("k", "tag"), root)
    VersionedStore.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "tag"), root)
    VersionedStore.rollback(root, 1)
    // next version allocates PAST the rolled-back v2 directory…
    val v3 = VersionedStore.commit(Seq((1L, "A")).toDF("k", "tag"), root)
    assert(v3 === 3)
    // …so v2's data survives intact (time travel), and the new commit is live
    assert(VersionedStore.read(spark, root, Some(2))
      .orderBy($"k").as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    assert(VersionedStore.read(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((1L, "A")))
    assert(VersionedStore.latestVersion(root) === 3)
  }

  test("versioned store: vacuum retains keepLast versions and never the live one") {
    import graft.model.VersionedStore
    val root = java.nio.file.Files.createTempDirectory("graft-vstore-vac").toString
    (1 to 5).foreach(i =>
      VersionedStore.commit(Seq((i.toLong, s"v$i")).toDF("k", "tag"), root))
    val deleted = VersionedStore.vacuum(root, keepLast = 2)
    assert(deleted === Seq(1, 2, 3))
    // survivors: v4 (history depth 2) and v5 (live)
    assert(VersionedStore.read(spark, root, Some(4)).count() === 1)
    assert(VersionedStore.read(spark, root).as[(Long, String)].head() === ((5L, "v5")))
    intercept[Exception](VersionedStore.read(spark, root, Some(2)).count())
    // a rolled-past higher version is never vacuumed (still time-travelable)
    VersionedStore.rollback(root, 4)
    assert(VersionedStore.vacuum(root, keepLast = 1) === Seq.empty)
    assert(VersionedStore.read(spark, root, Some(5)).count() === 1)
  }

  test("cdc store manifest: round-trip, targeted refresh, self-heal, fresh buckets") {
    import graft.streaming.Cdc
    import org.apache.hadoop.fs.Path
    val store = java.nio.file.Files.createTempDirectory("graft-cdc-man").toString
    def img(k: Long, v: String, seq: Long) = (k, v, seq)
    def merge(rows: Seq[(Long, String, Long)]): Unit =
      Cdc.mergeIntoStore(rows.toDF("k", "v", "seq"), store, Seq("k"), "seq", numBuckets = 8)
    // on-disk truth, independent of the manifest machinery
    def diskFiles(): Set[String] = {
      val root = new Path(store)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(root, true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && st.getPath.getParent.getName.startsWith("b=") &&
            !name.startsWith("_") && !name.startsWith("."))
          out += s"${st.getPath.getParent.getName}/$name"
      }
      out.toSet
    }
    def manifestFiles(): Set[String] =
      graft.streaming.BucketStore.readManifest(spark, store).get.values.flatten.toSet

    merge((1L to 40L).map(k => img(k, s"v$k", 1L)))
    assert(manifestFiles() === diskFiles(), "creation manifest != disk")
    merge(Seq(img(3L, "V3", 2L), img(41L, "v41", 2L)))
    assert(manifestFiles() === diskFiles(), "post-merge manifest != disk")
    // readStore (manifest path) == raw partition-discovery read
    val viaManifest = Cdc.readStore(spark, store)
      .as[(Long, String, Long)].collect().toSet
    val viaListing = spark.read.parquet(store).drop("b")
      .as[(Long, String, Long)].collect().toSet
    assert(viaManifest === viaListing)
    assert(viaManifest.size === 41)
    assert(viaManifest.contains((3L, "V3", 2L)))
    // self-heal: a deleted manifest (the documented crash recovery) only
    // costs one listing fallback — the next merge rewrites it
    val mp = new Path(store, "_MANIFEST")
    mp.getFileSystem(spark.sessionState.newHadoopConf()).delete(mp, false)
    merge(Seq(img(5L, "V5", 3L)))
    assert(manifestFiles() === diskFiles(), "self-healed manifest != disk")
    merge(Seq(img(1000L, "k1000", 4L)))
    assert(manifestFiles() === diskFiles(), "manifest != disk after heal+merge")
    assert(Cdc.readStore(spark, store).count() === 42) // 40 + k41 + k1000 inserts

    // a batch whose keys all hash to never-written buckets merges cleanly
    // (the manifest hands back an EMPTY file list — must not break the
    // union or the refresh): 64-bucket store created from ONE key, then
    // a key from a provably different bucket
    val store2 = java.nio.file.Files.createTempDirectory("graft-cdc-man2").toString
    def bucketOf(k: Long): Int = spark.range(1).select(
      pmod(xxhash64(lit(k)), lit(64L)).cast("int")).as[Int].head()
    Cdc.mergeIntoStore(Seq(img(1L, "a", 1L)).toDF("k", "v", "seq"),
      store2, Seq("k"), "seq", numBuckets = 64)
    val freshKey = (2L to 200L).find(k => bucketOf(k) != bucketOf(1L)).get
    Cdc.mergeIntoStore(Seq(img(freshKey, "b", 2L)).toDF("k", "v", "seq"),
      store2, Seq("k"), "seq")
    assert(Cdc.readStore(spark, store2).as[(Long, String, Long)].collect().toSet
      === Set((1L, "a", 1L), (freshKey, "b", 2L)))
    assert(graft.streaming.BucketStore.readManifest(spark, store2).get.keySet
      === Set(bucketOf(1L), bucketOf(freshKey)))
  }

  test("stale manifest (crash between data commit and manifest rewrite) self-heals on read") {
    import graft.streaming.{BucketStore, Cdc}
    import org.apache.hadoop.fs.Path
    val store = java.nio.file.Files.createTempDirectory("graft-stale-man").toString
    def merge(rows: Seq[(Long, String, Long)]): Unit =
      Cdc.mergeIntoStore(rows.toDF("k", "v", "seq"), store, Seq("k"), "seq", numBuckets = 8)
    merge((1L to 40L).map(k => (k, s"v$k", 1L)))
    // Simulate the crash window: a data file the manifest still lists is
    // gone (the dynamic-partition overwrite deleted it before the
    // manifest rewrite landed). Delete one listed file directly.
    val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    val m0 = BucketStore.readManifest(spark, store).get
    val (b0, victimFile) = m0.toSeq.map { case (b, fl) => (b, fl.head) }.head
    fs.delete(new Path(store, victimFile), false)
    // Pre-round-12 this threw FileNotFoundException on every read until
    // someone manually deleted _MANIFEST; now the read stat-detects the
    // stale entry, rebuilds from listing, and proceeds.
    val healedRead = Cdc.readStore(spark, store).count()
    assert(healedRead < 40) // the victim's rows are genuinely gone
    assert(BucketStore.readManifest(spark, store).get.values.flatten
      .forall(f => fs.exists(new Path(store, f))), "healed manifest still stale")
    // and a subsequent merge is clean
    merge(Seq((500L, "x", 2L)))
    assert(Cdc.readStore(spark, store).count() === healedRead + 1)
  }

  test("append-commit protocol: orphan files from a crashed append stay invisible") {
    import graft.streaming.BucketStore
    val store = java.nio.file.Files.createTempDirectory("graft-append-man").toString
    val n = 4
    def withB(rows: Seq[(Long, String)]) = rows.toDF("k", "v")
      .withColumn("b", BucketStore.bucketCol(Seq("k"), n))
    def appendCommitted(rows: Seq[(Long, String)]): Unit = {
      val df = withB(rows).localCheckpoint()
      val touched = df.select($"b").distinct().collect().map(_.getInt(0)).toSeq
      val before = BucketStore.snapshotBuckets(spark, store, touched)
      df.repartition($"b").write.partitionBy("b").mode("append").parquet(store)
      BucketStore.commitAppended(spark, store, touched, before)
    }
    BucketStore.writeBucketsFile(spark, store, n)
    BucketStore.ensureManifest(spark, store)
    appendCommitted(Seq((1L, "a"), (2L, "b")))
    // crashed append: data written, commitAppended never ran
    withB(Seq((3L, "ORPHAN"))).repartition($"b")
      .write.partitionBy("b").mode("append").parquet(store)
    val visible = BucketStore.readBuckets(spark, store, None)
      .select($"k", $"v").as[(Long, String)].collect().toSet
    assert(visible === Set((1L, "a"), (2L, "b")), "orphan leaked into a manifest read")
    // the replayed batch re-appends and commits; exactly one copy visible
    appendCommitted(Seq((3L, "ORPHAN")))
    val after = BucketStore.readBuckets(spark, store, None)
      .select($"k", $"v").as[(Long, String)].collect().toSeq
    assert(after.count(_ == ((3L, "ORPHAN"))) === 1)
    assert(after.toSet === Set((1L, "a"), (2L, "b"), (3L, "ORPHAN")))
  }

  test("merge matches null keys null-safely (no infinite re-insert of failed parses)") {
    val current = Seq((Option(1L), "a"), (None, "bad")).toDF("k", "tag")
    val updates = Seq((Option.empty[Long], "BAD2")).toDF("k", "tag")
    val got = etl.Etl.merge(current, updates, Seq("k"))
      .orderBy($"k".asc_nulls_first).as[(Option[Long], String)].collect().toSeq
    assert(got === Seq((None, "BAD2"), (Some(1L), "a")))
  }
}
