package graft

import graft.sources.Jdbc
import org.apache.spark.sql.SaveMode

/** JDBC source/sink parity, driven end-to-end against embedded Derby
  * (ships with Spark — no external database needed): write a testdata
  * slice out, read it back single-stream and range-partitioned, and
  * assert filter pushdown reaches the JDBC scan node. */
class JdbcSpec extends SparkSuite {
  import spark.implicits._

  // Derby writes derby.log into the JVM's cwd (the repo root under sbt)
  // unless told otherwise; point it at the temp dir before the driver
  // first loads so test runs leave the working tree clean.
  private lazy val url = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    s"jdbc:derby:$dir/db;create=true"
  }

  test("JDBC round-trip: write orders slice, read back identical") {
    val src = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
      .filter($"o_orderkey" < 1000)
    Jdbc.write(src, url, "orders_rt", SaveMode.Overwrite)
    val back = Jdbc.read(spark, url, "orders_rt")
    assert(back.count() === src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("partitioned JDBC read: parallel range slices, same rows") {
    val src = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice").filter($"o_orderkey" < 2000)
    Jdbc.write(src, url, "orders_part", SaveMode.Overwrite)
    val back = Jdbc.readPartitioned(spark, url, "orders_part",
      "o_orderkey", 0L, 2000L, numPartitions = 4)
    assert(back.rdd.getNumPartitions === 4)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("filters push down into the remote JDBC query") {
    val src = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice").filter($"o_orderkey" < 500)
    Jdbc.write(src, url, "orders_push", SaveMode.Overwrite)
    val q = Jdbc.read(spark, url, "orders_push").filter($"o_totalprice" > 1000.0)
    val plan = q.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"no pushed filter on JDBC scan:\n$plan")
    val expected = src.filter($"o_totalprice" > 1000.0)
    assert(q.exceptAll(expected).isEmpty && expected.exceptAll(q).isEmpty)
  }

  test("writeIfAbsent: idempotent double-load, no duplicate rows") {
    val src = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .filter($"o_orderkey" < 1500)
    val n = src.count()
    // first load creates the table and inserts everything
    val ins1 = Jdbc.writeIfAbsent(src, url, "orders_upsert", Seq("o_orderkey"))
    assert(ins1 === n)
    // exact replay inserts nothing — the reference's ON CONFLICT DO NOTHING
    val ins2 = Jdbc.writeIfAbsent(src, url, "orders_upsert", Seq("o_orderkey"))
    assert(ins2 === 0L)
    // overlapping batch inserts only the genuinely new keys
    val wider = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .filter($"o_orderkey" < 3000)
    val ins3 = Jdbc.writeIfAbsent(wider, url, "orders_upsert", Seq("o_orderkey"))
    assert(ins3 === wider.count() - n)
    val back = Jdbc.read(spark, url, "orders_upsert")
    assert(back.count() === wider.count())
    assert(back.select("o_orderkey").distinct().count() === back.count())
    assert(back.exceptAll(wider).isEmpty && wider.exceptAll(back).isEmpty)
  }

  test("writeIfAbsent: two concurrent loads into one target, both land, no orphan staging") {
    // Round-6 defect: a FIXED staging name (`<table>_stage`) was shared
    // mutable state — two in-flight loads overwrote each other's staged
    // batch. With per-call unique staging, concurrent loads are isolated.
    val left = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice").filter($"o_orderkey" < 1000)
    val right = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice")
      .filter($"o_orderkey" >= 1000 && $"o_orderkey" < 2000)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (n1, n2) = Await.result(
      Future(Jdbc.writeIfAbsent(left, url, "orders_conc", Seq("o_orderkey")))
        .zip(Future(Jdbc.writeIfAbsent(right, url, "orders_conc", Seq("o_orderkey")))),
      5.minutes)
    assert(n1 === left.count() && n2 === right.count())
    val back = Jdbc.read(spark, url, "orders_conc")
    assert(back.count() === left.count() + right.count())
    // replays of either batch stay idempotent after the concurrency
    assert(Jdbc.writeIfAbsent(left, url, "orders_conc", Seq("o_orderkey")) === 0L)
    assert(Jdbc.writeIfAbsent(right, url, "orders_conc", Seq("o_orderkey")) === 0L)
    // no staging table outlives any call (success or failure paths)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%STAGE%", null)
      val orphans = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      rs.close()
      assert(orphans.isEmpty, s"orphan staging tables: $orphans")
    } finally conn.close()
  }

  test("writeIfAbsent: concurrent loads with OVERLAPPING keys — no duplicates, no lost rows") {
    // Both loaders race the same keys in [800, 1200): each passes NOT
    // EXISTS before the other commits, the loser's set-based insert hits
    // the unique index, and the retry must insert its disjoint remainder
    // (the reference's ON CONFLICT DO NOTHING row-level contract).
    val left = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice").filter($"o_orderkey" < 1200)
    val right = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice")
      .filter($"o_orderkey" >= 800 && $"o_orderkey" < 2000)
    val total = Tables.orders(spark, sf).filter($"o_orderkey" < 2000).count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (n1, n2) = Await.result(
      Future(Jdbc.writeIfAbsent(left, url, "orders_overlap", Seq("o_orderkey")))
        .zip(Future(Jdbc.writeIfAbsent(right, url, "orders_overlap", Seq("o_orderkey")))),
      5.minutes)
    assert(n1 + n2 === total, s"inserted $n1 + $n2, expected exactly $total distinct keys")
    val back = Jdbc.read(spark, url, "orders_overlap")
    assert(back.count() === total)
    assert(back.select("o_orderkey").distinct().count() === total)
  }

  test("writeIfAbsent: unique index on the key survives create, blocking racy duplicates") {
    val df = Seq((10L, "x")).toDF("k", "v")
    Jdbc.writeIfAbsent(df, url, "idx_upsert", Seq("k"))
    // the index exists on the key column (the ON CONFLICT substrate)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, null, "IDX_UPSERT", true, false)
      val indexedCols = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("COLUMN_NAME")).toSet
      rs.close()
      assert(indexedCols.contains("k"), s"no unique index on k; indexed: $indexedCols")
      // a direct duplicate insert violates it — NOT EXISTS is no longer
      // the only line of defense
      val stmt = conn.createStatement()
      intercept[java.sql.SQLException] {
        stmt.executeUpdate("""INSERT INTO idx_upsert ("k", "v") VALUES (10, 'dup')""")
      }
    } finally conn.close()
  }

  test("writeIfAbsent: in-batch duplicate keys collapse to one deterministic survivor") {
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    val ins = Jdbc.writeIfAbsent(dup, url, "dedup_upsert", Seq("k"))
    assert(ins === 2L)
    val back = Jdbc.read(spark, url, "dedup_upsert").as[(Long, String)].collect().toSet
    assert(back === Set((1L, "a"), (2L, "c"))) // keep-first by remaining cols asc
  }
}
