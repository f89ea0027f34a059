package graft

import graft.ext.Layout
import org.apache.spark.sql.functions._

/** Z-order layout: Morton-code correctness plus the measurable claim —
  * a 2-d box predicate over a z-clustered table reads a small fraction
  * of the row groups an unclustered layout reads. */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  test("Morton code interleaves bits exactly (hand-checked values)") {
    val got = Seq((0, 0), (1, 0), (0, 1), (1, 1), (2, 2), (3, 5), (65535, 65535))
      .toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(3,5): spread(3)=0b000101=5, spread(5)=0b010001=17, 5 | 17<<1 = 39
    assert(got === Seq(0L, 1L, 2L, 3L, 12L, 39L, 4294967295L))
  }

  test("inputs wider than 16 bits clamp to their low bits instead of corrupting the code") {
    val z = Seq((65536 + 3, 65536 * 4 + 5)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b")).as("z"))
      .collect().head.getLong(0)
    assert(z === 39L, "overflowing bits must be masked away")
  }

  /** Rows the parquet reader actually emitted for a query = scan-node
    * numOutputRows after row-group/page pruning (the residual Filter
    * runs downstream of the scan and does not affect this metric). */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // execute THIS queryExecution so its metrics populate
    flattenPlan(df.queryExecution.executedPlan)
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .map(_.metrics("numOutputRows").value).sum
  }

  test("z-ordered layout prunes row groups for a 2-d box predicate; random layout reads everything") {
    val base = Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).as("day"),
      col("l_partkey").cast("int").as("part"),
      col("l_quantity"))
    val total = base.count()
    val zDir = java.nio.file.Files.createTempDirectory("graft-z").toString
    val rDir = java.nio.file.Files.createTempDirectory("graft-r").toString
    Layout.writeZOrdered(base, "day", "part", nFiles = 16, path = zDir)
    base.repartition(16).write.mode("overwrite").parquet(rDir) // round-robin: worst locality
    // A selective box in both dimensions (day domain is ~[1097, 3595],
    // part is [0, 199] at this SF): ~20% of the day axis, ~25% of part.
    val (d0, d1) = (1500, 2000)
    val (p0, p1) = (50, 100)
    def box(path: String) = spark.read.parquet(path)
      .filter(col("day").between(d0, d1) && col("part").between(p0, p1))
    val zRows = scanOutputRows(box(zDir))
    val rRows = scanOutputRows(box(rDir))
    // Identical answers...
    assert(box(zDir).count() === box(rDir).count())
    // ...but the clustered layout must let min/max stats reject most
    // row groups while the random layout reads the full table.
    assert(rRows === total, s"random layout should read everything, read $rRows of $total")
    assert(zRows <= total / 2,
      s"z-order pruned too little: read $zRows of $total rows")
    assert(zRows < rRows, "z-order must read strictly less than the random layout")
  }

  test("k-dim Morton code places bit i of dim d at z-bit i*k+d (hand-checked, k=3)") {
    val got = Seq((0, 0, 0), (1, 0, 0), (0, 1, 0), (0, 0, 1), (1, 1, 1),
      (2, 0, 0), (0, 2, 0), (3, 5, 7))
      .toDF("a", "b", "c")
      .select(Layout.zValueN(Seq(col("a"), col("b"), col("c")), 16).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(3,5,7): a=0b11 → bits 0,3; b=0b101 → bits 1,7; c=0b111 → bits 2,5,8
    // = 1+8 + 2+128 + 4+32+256 = 431
    assert(got === Seq(0L, 1L, 2L, 4L, 7L, 8L, 16L, 431L))
    // stride-2 generic form agrees with the magic-mask fast path
    val pairs = Seq((3, 5), (65535, 65535), (1234, 4321)).toDF("a", "b")
    val agree = pairs.select(
      Layout.zValue(col("a"), col("b")).as("fast"),
      Layout.zValueN(Seq(col("a"), col("b")), 16).as("generic"))
      .filter(col("fast") =!= col("generic"))
    assert(agree.isEmpty, "generic interleave disagrees with spread16 path")
  }

  test("3-column z-order prunes a 3-d box; random layout reads everything") {
    val base = Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).as("day"),
      col("l_partkey").cast("int").as("part"),
      col("l_suppkey").cast("int").as("supp"))
    val total = base.count()
    val zDir = java.nio.file.Files.createTempDirectory("graft-z3").toString
    val rDir = java.nio.file.Files.createTempDirectory("graft-r3").toString
    // 3-d needs finer granularity than 2-d for the same per-axis file
    // extent (n files split z-space into n boxes of ~n^(-1/3) axis span)
    Layout.writeZOrdered(base, Seq("day", "part", "supp"), nFiles = 64, path = zDir)
    base.repartition(64).write.mode("overwrite").parquet(rDir)
    // ~30% of each axis → ~2.7% of the volume (domains at this SF:
    // day ~[1097,3595], part [1,200], supp [1,10])
    def box(path: String) = spark.read.parquet(path)
      .filter(col("day").between(1500, 2250) &&
        col("part").between(60, 120) && col("supp").between(3, 6))
    val zRows = scanOutputRows(box(zDir))
    val rRows = scanOutputRows(box(rDir))
    assert(box(zDir).count() === box(rDir).count())
    assert(rRows === total, s"random layout should read everything, read $rRows of $total")
    assert(zRows <= total / 2, s"3-d z-order pruned too little: read $zRows of $total rows")
    assert(zRows < rRows)
  }

  /** Count scheduler events during `body`: (jobs started, stages that
    * scanned files). Listener delivery is async — poll until quiet. */
  private def schedulerCounts(body: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scans.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = (-1, -1); var cur = (jobs.get, scans.get); var spins = 0
      while (cur != last && spins < 20) { // drain the async listener bus
        last = cur; Thread.sleep(250); cur = (jobs.get, scans.get); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("empty input: zOrderedBy is a no-op, and z-ordered compaction survives an empty store") {
    import graft.model.VersionedStore
    // round-6 advice: agg(min,max).head() on an empty frame yields null
    // cells and getAs[Number].longValue() NPE'd
    val empty = Seq.empty[(Int, Int)].toDF("a", "b")
    assert(Layout.zOrderedBy(empty, Seq("a", "b"), 4).count() === 0L)
    val root = java.nio.file.Files.createTempDirectory("graft-vz").toString + "/store"
    VersionedStore.commit(empty, root)
    val v = VersionedStore.compact(spark, root, targetRowsPerFile = 1000,
      zorderBy = Seq("a", "b"))
    assert(VersionedStore.read(spark, root, Some(v)).count() === 0L)
  }

  test("all-NULL z-dimension: unclustered fallback instead of an NPE (non-empty input)") {
    import graft.model.VersionedStore
    val df = Seq((1, Option.empty[Int]), (2, None), (3, None)).toDF("a", "b")
    assert(Layout.zOrderedBy(df, Seq("a", "b"), 4).count() === 3L)
    val root = java.nio.file.Files.createTempDirectory("graft-vznull").toString + "/store"
    VersionedStore.commit(df, root)
    val v = VersionedStore.compact(spark, root, targetRowsPerFile = 1000,
      zorderBy = Seq("a", "b"))
    assert(VersionedStore.read(spark, root, Some(v)).count() === 3L)
  }

  test("caller-supplied bounds make zOrderedBy pure plan construction: zero jobs") {
    val base = Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).as("day"),
      col("l_partkey").cast("int").as("part"))
    val (jobs, _) = schedulerCounts {
      Layout.zOrderedBy(base, Seq("day", "part"), 8,
        bounds = Seq((1097L, 3595L), (1L, 200L)))
    }
    assert(jobs === 0, s"bounds-supplied zOrderedBy scheduled $jobs jobs")
  }

  test("z-ordered compaction stats cost one scan, not two (count+bounds fused)") {
    import graft.model.VersionedStore
    val base = Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).as("day"),
      col("l_partkey").cast("int").as("part"), col("l_quantity"))
    val root = java.nio.file.Files.createTempDirectory("graft-vz2").toString + "/store"
    VersionedStore.commit(base, root)
    val (_, scanStages) = schedulerCounts {
      VersionedStore.compact(spark, root, targetRowsPerFile = 5000,
        zorderBy = Seq("day", "part"))
    }
    // One fused stats scan + the range-boundary sampling scan + the
    // rewrite scan = 3. A separate min/max pass inside zOrderedBy (the
    // round-6 shape) made it 4.
    assert(scanStages <= 3, s"z-ordered compact ran $scanStages file-scan stages, expected <= 3")
    // and the compacted version is the same data, clustered
    assert(VersionedStore.read(spark, root).count() === base.count())
  }

  test("lexicographic sort only helps the leading column; z-order helps both") {
    val base = Tables.lineitem(spark, sf).select(
      datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).as("day"),
      col("l_partkey").cast("int").as("part"))
    val total = base.count()
    val lexDir = java.nio.file.Files.createTempDirectory("graft-lex").toString
    val zDir = java.nio.file.Files.createTempDirectory("graft-z2").toString
    base.repartitionByRange(16, col("day"), col("part"))
      .sortWithinPartitions(col("day"), col("part"))
      .write.mode("overwrite").parquet(lexDir)
    Layout.writeZOrdered(base, "day", "part", nFiles = 16, path = zDir)
    // Predicate on the SECOND column only — the one a (day, part) sort
    // cannot bound per file (every file spans most of the part range).
    // ~10% of the part domain [0, 199].
    def q(path: String) = spark.read.parquet(path)
      .filter(col("part").between(100, 120))
    val lexRows = scanOutputRows(q(lexDir))
    val zRows = scanOutputRows(q(zDir))
    assert(q(lexDir).count() === q(zDir).count())
    assert(zRows < lexRows,
      s"z-order must out-prune lexicographic on the trailing dimension: z=$zRows lex=$lexRows total=$total")
  }

  test("x69 stats: every z-range is a small BOX of both dimensions") {
    import org.apache.spark.sql.functions.{expr, col => c}
    val o = Tables.orders(spark, sf).select(
      c("o_custkey").as("ck"), expr("unix_micros(o_orderdate) div 86400000000").as("day"))
    val Seq(ckSpan, daySpan) = {
      val r = o.agg(org.apache.spark.sql.functions.max(c("ck")) - org.apache.spark.sql.functions.min(c("ck")),
        org.apache.spark.sql.functions.max(c("day")) - org.apache.spark.sql.functions.min(c("day"))).head()
      Seq(r.getLong(0), r.getLong(1))
    }
    val stats = Layout.zorderStats.fn(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(stats.map(_._2).sum === o.count())
    assert(stats.length <= 256)
    // shift 24 keeps 4 high bits per dimension: each bucket covers at
    // most 1/16 of each scaled axis (+ rounding slack) — a BOX, where a
    // single-column sort leaves the other axis spanning ~everything
    assert(stats.map(_._3).max <= ckSpan / 8,
      s"ck boxes too wide: ${stats.map(_._3).max} vs global $ckSpan")
    assert(stats.map(_._4).max <= daySpan / 8,
      s"day boxes too wide: ${stats.map(_._4).max} vs global $daySpan")
  }

  test("bucketed tables join with ZERO exchanges; plain parquet pays two") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf)
    val lineitem = Tables.lineitem(spark, sf)
    ext.Layout.writeBucketed(orders, "bk_orders", "o_orderkey", 8,
      Seq("o_orderkey"))
    ext.Layout.writeBucketed(lineitem, "bk_lineitem", "l_orderkey", 8,
      Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.count()
        flattenPlan(df.queryExecution.executedPlan)
          .count(_.isInstanceOf[ShuffleExchangeLike])
      }
      val bucketed = spark.table("bk_orders").join(spark.table("bk_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plain = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      assert(exchanges(bucketed) === 0,
        "bucketed join must be exchange-free on both sides")
      assert(exchanges(plain) >= 2, "plain join shuffles both sides")
      // same join, same answer
      assert(bucketed.count() === plain.count())
      val a = bucketed.groupBy(col("o_orderpriority"))
        .agg(count(lit(1))).collect().map(_.toSeq).toSet
      val b = plain.groupBy(col("o_orderpriority"))
        .agg(count(lit(1))).collect().map(_.toSeq).toSet
      assert(a === b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_orders")
      spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    }
  }

  private def writeOrders(dir: String, rows: Seq[(Long, Double)]): Unit = {
    import java.sql.Timestamp
    rows.map { case (k, p) => (k, p, Timestamp.valueOf("2024-01-01 00:00:00")) }
      .toDF("o_orderkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  test("x111 crafted: NTILE distribution at n<K, n=K+3, and all-tied keys") {
    // n=10 < K=32: buckets 1..10 carry exactly one row each, in order
    val d1 = java.nio.file.Files.createTempDirectory("graft-rp1").toString
    writeOrders(d1, (1 to 10).map(i => (i.toLong, i.toDouble)))
    val g1 = Layout.rangePlan.fn(spark, d1)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(g1 === (1 to 10).map(i => (i.toLong, 1L, i.toDouble, i.toDouble)))
    // n=35: rem=3, q=1 → buckets 1..3 carry 2 rows, 4..32 carry 1
    val d2 = java.nio.file.Files.createTempDirectory("graft-rp2").toString
    writeOrders(d2, (1 to 35).map(i => (i.toLong, i.toDouble)))
    val g2 = Layout.rangePlan.fn(spark, d2)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(g2.map(_._2) === Seq.fill(3)(2L) ++ Seq.fill(29)(1L))
    assert(g2.take(3).map(r => (r._3, r._4)) ===
      Seq((1.0, 2.0), (3.0, 4.0), (5.0, 6.0)))
    assert(g2(3) === ((4L, 1L, 7.0, 7.0)))
    // all-tied prices: the o_orderkey tiebreak still yields the exact
    // NTILE distribution, every bucket bounded by the single price
    val d3 = java.nio.file.Files.createTempDirectory("graft-rp3").toString
    writeOrders(d3, (1 to 5).map(i => (i.toLong, 7.0)))
    val g3 = Layout.rangePlan.fn(spark, d3)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(g3 === (1 to 5).map(i => (i.toLong, 1L, 7.0, 7.0)))
  }

  test("x111 real data: ±1 balance, full coverage, monotone non-overlapping bounds") {
    val rows = Layout.rangePlan.fn(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._1) === (1L to 32L))
    val sizes = rows.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"unbalanced: ${sizes.min}..${sizes.max}")
    assert(sizes.sum === Tables.orders(spark, sf).count())
    for (Seq(a, b) <- rows.sliding(2)) {
      assert(a._3 <= a._4, s"bucket ${a._1} lo>hi")
      assert(a._4 <= b._3, s"buckets ${a._1}/${b._1} overlap")
    }
  }

  test("x111 plan: the full-data window partitions by segment; global windows see only the segment table") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = Layout.rangePlan.fn(spark, sf)
    df.count()
    val windows = flattenPlan(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    for (w <- windows if w.partitionSpec.isEmpty) {
      // a global window is sanctioned ONLY over the |segments|-row
      // aggregate, never over the orders scan
      val feeds = flattenPlan(w.child)
      assert(feeds.exists(_.isInstanceOf[BaseAggregateExec]),
        s"global window reads unaggregated data:\n$w")
    }
    assert(windows.exists(_.partitionSpec.nonEmpty))
  }
}
