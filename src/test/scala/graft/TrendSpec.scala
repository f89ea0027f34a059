package graft

import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** x78/x79 trend operators: the oracle pins bit-exact parity on the real
  * tables; these pin the regression semantics on crafted input (exact-fit
  * line, zero-x-variance and zero-y-variance guards), the interval-weight
  * fold (open intervals excluded, zero-width intervals weightless), and
  * partitioning invariance of the exact-sum formulation.
  */
class TrendSpec extends SparkSuite {
  import spark.implicits._

  private def writeEvents(dir: String, rows: Seq[(Long, String, String, Double)]): Unit =
    rows.map { case (id, ts, et, v) => (id, Timestamp.valueOf(ts), 1L, et, v, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeOrders(dir: String,
      rows: Seq[(Long, Long, Double, String, String)]): Unit =
    rows.map { case (k, c, p, ts, pri) => (k, c, "O", p, Timestamp.valueOf(ts), pri) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

  test("x78 crafted: exact-fit line, zero-x-variance, zero-y-variance groups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-trend").toString
    writeEvents(dir, Seq(
      // "lin": y = 2x + 1 on days 0..4 → slope 2, intercept 1, r2 1 (exact)
      (1L, "1970-01-01 12:00:00", "lin", 1.0),
      (2L, "1970-01-02 12:00:00", "lin", 3.0),
      (3L, "1970-01-03 12:00:00", "lin", 5.0),
      (4L, "1970-01-04 12:00:00", "lin", 7.0),
      (5L, "1970-01-05 12:00:00", "lin", 9.0),
      // "flat": all points the same day → x-variance 0 → NULL slope/intercept/r2
      (6L, "1970-01-10 01:00:00", "flat", 1.0),
      (7L, "1970-01-10 23:00:00", "flat", 9.0),
      // "const": y constant across days → slope 0 exactly, r2 NULL (0/0 guard)
      (8L, "1970-01-01 00:00:00", "const", 4.0),
      (9L, "1970-01-09 00:00:00", "const", 4.0)))
    val got = analytics.Trend.groupRegression.fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))).toMap
    assert(got("lin") === ((5L, Some(2.0), Some(1.0), Some(1.0))))
    assert(got("flat") === ((2L, None, None, None)))
    assert(got("const") === ((2L, Some(0.0), Some(4.0), None)))
  }

  test("x78 agrees with Spark's builtin regr_slope/regr_intercept on real data") {
    val got = analytics.Trend.groupRegression.fn(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val ref = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("double").as("x"),
        col("value").as("y"))
      .groupBy("event_type")
      .agg(regr_slope(col("y"), col("x")).as("s"), regr_intercept(col("y"), col("x")).as("i"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet === ref.keySet)
    for ((k, (s, i)) <- got) {
      assert(math.abs(s - ref(k)._1) <= 1e-9 * math.max(1.0, math.abs(s)), s"slope $k")
      assert(math.abs(i - ref(k)._2) <= 1e-9 * math.max(1.0, math.abs(i)), s"intercept $k")
    }
  }

  test("x78 result is bit-identical under a hostile physical layout") {
    val base = analytics.Trend.groupRegression.fn(spark, sf).collect().toSeq
    val hostile = java.nio.file.Files.createTempDirectory("graft-trend-h").toString
    // skew everything into 3 partitions ordered by value — worst case for
    // any order-dependent accumulation
    Tables.events(spark, sf).orderBy(col("value")).repartition(3)
      .write.mode("overwrite").parquet(s"$hostile/events.parquet")
    val got = analytics.Trend.groupRegression.fn(spark, hostile).collect().toSeq
    assert(got === base)
  }

  test("x79 crafted: open intervals excluded, zero-width weightless, day grain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-trend2").toString
    writeOrders(dir, Seq(
      // cust 1 (P1): day 0 → +2d (w=2, price 100), day 2 → +1d (w=1, price
      // 200), day 3 open (excluded) → tw = (100·2 + 200·1) / 3
      (1L, 1L, 100.0, "2024-01-01 10:00:00", "P1"),
      (2L, 1L, 200.0, "2024-01-03 09:00:00", "P1"),
      (3L, 1L, 999.0, "2024-01-04 08:00:00", "P1"),
      // cust 2 (P2): singleton → n_weighted 0, NULL mean
      (4L, 2L, 50.0, "2024-02-01 00:00:00", "P2"),
      // cust 3 (P3): two same-day orders → w=0 weightless, total_w 0 → NULL
      (5L, 3L, 10.0, "2024-03-01 01:00:00", "P3"),
      (6L, 3L, 20.0, "2024-03-01 23:00:00", "P3")))
    val got = analytics.Trend.timeWeightedPrice.fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got("P1") === ((3L, 2L, Some(400.0 / 3.0))))
    assert(got("P2") === ((1L, 0L, None)))
    assert(got("P3") === ((2L, 1L, None)))
  }

  test("x91 crafted: exact dyadic halving, horizon cutoff, stale parts absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-decay").toString
    // high-water = 2024-03-01. part 1: today + yesterday → 1.0 + 0.5.
    // part 2: one vote 30 days old → 2^-30. part 3: 31 days old → filtered.
    Seq((1L, 1L, "2024-03-01"), (2L, 1L, "2024-02-29"),
        (3L, 2L, "2024-01-31"), (4L, 3L, "2024-01-30"))
      .map { case (ok, p, d) => (ok, p, Timestamp.valueOf(s"$d 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = analytics.Trend.decayedPopularity.fn(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      1L -> ((2L, (1L << 30) + (1L << 29), 1.5)),
      2L -> ((1L, 1L, math.pow(2.0, -30))))) // part 3 beyond horizon: absent
  }

  test("x92 crafted: weighted median lands where cumulative weight crosses half") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wmed").toString
    // flag A: prices 10(w1), 20(w1), 30(w8) → total 10, half 5 → first
    // cum ≥ 5 is price 30 (unweighted median would be 20).
    // flag B: 10(w5), 99(w5) → 2·cum(10)=10 ≥ 10 → wmedian 10 (lower
    // of the even split — the ≥ rule is the spec).
    Seq(("A", 10.0, 1.0, 1L, 1), ("A", 20.0, 1.0, 1L, 2), ("A", 30.0, 8.0, 1L, 3),
        ("B", 10.0, 5.0, 2L, 1), ("B", 99.0, 5.0, 2L, 2))
      .map { case (f, v, q, ok, ln) => (ok, 1L, 1L, ln, q, v, 0.0, 0.0, f, "O",
        Timestamp.valueOf("2024-01-01 00:00:00")) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = analytics.Trend.weightedMedian.fn(spark, dir)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map("A" -> ((10L, 30.0)), "B" -> ((10L, 10.0))))
  }

  test("x97 crafted: CUSUM peaks at the end of the low segment; constant series zero") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    writeEvents(dir, Seq(
      // "shift": weekly pennies 100,100,100,900,900 → scaled CUSUM_k =
      // 5·prefix − k·2100 = -1600,-3200,-4800,-2400,0; |max| at week 3
      // (2024-01-15, the last low week), side -1
      (1L, "2024-01-01 12:00:00", "shift", 1.0),
      (2L, "2024-01-08 12:00:00", "shift", 1.0),
      (3L, "2024-01-15 12:00:00", "shift", 1.0),
      (4L, "2024-01-22 12:00:00", "shift", 9.0),
      (5L, "2024-01-29 12:00:00", "shift", 9.0),
      // "const": all weeks equal → every CUSUM 0, earliest-week tiebreak
      (6L, "2024-01-01 00:00:00", "const", 2.0),
      (7L, "2024-01-08 00:00:00", "const", 2.0),
      (8L, "2024-01-15 00:00:00", "const", 2.0)))
    val got = analytics.Trend.cusumChangePoint.fn(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDate(2).toString, r.getLong(3), r.getLong(4)))).toMap
    assert(got("shift") === ((5L, "2024-01-15", -4800L, -1L)))
    assert(got("const") === ((3L, "2024-01-01", 0L, 0L)))
  }

  test("x97 plan: the full-data shuffle is one hash agg; windows see the weekly grain") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = analytics.Trend.cusumChangePoint.fn(spark, sf)
    df.count()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.getClass.getSimpleName.contains("HashAggregate")))
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty))
  }

  test("x106 crafted: exact-fit trailing slopes; window warms up from NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-roll").toString
    // weekly pennies 100, 300, 500, 700, 100 → trailing-4 slopes:
    // wk1: n=1 → NULL; wk2: slope 200; wk3: 200; wk4: 200 (exact fit);
    // wk5 (weeks 2..5): ys 300,500,700,100 → slope = (4·sxy−sx·sy)/(4·sxx−sx²)
    writeEvents(dir, Seq(
      (1L, "2024-01-01 12:00:00", "t", 1.0),
      (2L, "2024-01-08 12:00:00", "t", 3.0),
      (3L, "2024-01-15 12:00:00", "t", 5.0),
      (4L, "2024-01-22 12:00:00", "t", 7.0),
      (5L, "2024-01-29 12:00:00", "t", 1.0)))
    val got = analytics.Trend.rollingSlope.fn(spark, dir)
      .collect().map(r => r.getDate(1).toString ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got("2024-01-01") === ((1L, None)))
    assert(got("2024-01-08") === ((2L, Some(200.0))))
    assert(got("2024-01-15") === ((3L, Some(200.0))))
    assert(got("2024-01-22") === ((4L, Some(200.0))))
    // xs are consecutive ints a..a+3 — shift-invariant, compute at 0..3:
    // ys 300,500,700,100: sxy=0·300+1·500+2·700+3·100=2200, sx=6, sy=1600,
    // sxx=14, n=4 → (8800−9600)/(56−36) = −800/20 = −40
    assert(got("2024-01-29") === ((4L, Some(-40.0))))
  }

  test("x78 plan: single hash aggregation, no Window, no join") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => J}
    val df = analytics.Trend.groupRegression.fn(spark, sf)
    df.count()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
    assert(!nodes.exists(_.isInstanceOf[J]))
    assert(!nodes.exists(_.getClass.getSimpleName.contains("SortAggregate")))
  }

  test("x109 crafted: alternating series, gap pairing, constant-series NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-acf").toString
    writeEvents(dir, Seq(
      // "alt": weekly counts 1,2,1,2 on four consecutive Mondays →
      //   lag1 pairs (1,2)(2,1)(1,2): n=3 sa=4 sb=5 sab=6 saa=6 sbb=9
      //     → num=3·6−20=−2, dA=2, dB=2, acf=−2/sqrt(4)=−1.0
      //   lag2 pairs (1,1)(2,2): num=2·5−9=1, dA=dB=1 → acf=1.0
      //   lag3 single pair → zero variance → NULL; lag4 no pairs → absent
      (1L, "2024-01-01 10:00:00", "alt", 1.0),
      (2L, "2024-01-08 10:00:00", "alt", 1.0), (3L, "2024-01-09 10:00:00", "alt", 1.0),
      (4L, "2024-01-15 10:00:00", "alt", 1.0),
      (5L, "2024-01-22 10:00:00", "alt", 1.0), (6L, "2024-01-23 10:00:00", "alt", 1.0),
      // "gap": weeks 0,1,3 (week 2 missing), constant count 1 —
      // lag1 pairs ONLY (w0,w1) (the hole pairs nothing); lag2 (w1,w3);
      // lag3 (w0,w3); all single-pair/constant → acf NULL
      (7L, "2024-01-01 10:00:00", "gap", 1.0),
      (8L, "2024-01-08 10:00:00", "gap", 1.0),
      (9L, "2024-01-22 10:00:00", "gap", 1.0)))
    val got = analytics.Trend.autocorrelation.fn(spark, dir)
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got(("alt", 1L)) === ((3L, -2L, Some(-1.0))))
    assert(got(("alt", 2L)) === ((2L, 1L, Some(1.0))))
    assert(got(("alt", 3L)) === ((1L, 0L, None)))
    assert(!got.contains(("alt", 4L)))
    assert(got(("gap", 1L)) === ((1L, 0L, None)))
    assert(got(("gap", 2L)) === ((1L, 0L, None)))
    assert(got(("gap", 3L)) === ((1L, 0L, None)))
  }

  test("x109 real data: acf within [-1,1], pairs shrink with lag, Cauchy-Schwarz") {
    val rows = analytics.Trend.autocorrelation.fn(spark, sf)
      .as[(String, Long, Long, Long, Option[Double])].collect()
    assert(rows.nonEmpty)
    for ((et, lag, n, _, acf) <- rows; a <- acf)
      assert(a >= -1.0 && a <= 1.0, s"$et lag $lag: $a")
    val byType = rows.groupBy(_._1)
    for ((et, rs) <- byType) {
      val byLag = rs.sortBy(_._2).map(_._3)
      assert(byLag.zip(byLag.tail).forall { case (a, b) => b <= a },
        s"$et pairs not nonincreasing: ${byLag.toSeq}")
    }
  }

  test("x79 plan: the only Window partitions by o_custkey (never global)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = analytics.Trend.timeWeightedPrice.fn(spark, sf)
    df.count()
    val windows = flattenPlan(df.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty))
  }

  test("x139 crafted: two-step Holt fold matches the hand computation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-holt").toString
    // day 1: 4 events; day 2: 8 events (one event_type)
    val rows = (1 to 4).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 08:00:00"), 1L, "view", 1.0, "")) ++
      (5 to 12).map(i =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-02 08:00:00"), 1L, "view", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = analytics.Trend.holtForecast.fn(spark, dir)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)].collect().head
    val S = 1L << 20
    // l1 = 4S, b1 = 0; l2 = (8S+4S)/2 = 6S; b2 = (6S-4S)/2 = S
    assert(r === (("view", 2L, 6 * S, S, 13 * S, 6.0, 1.0, 13.0)))
  }

  test("x139 real data: the HOF fold equals a scalar sequential replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val S = 1L << 20
    val axis = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("y"))
      .orderBy(col("event_type"), col("day"))
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.toString).map(_._3)).toMap
    val expect = axis.map { case (et, ys) =>
      var l = ys.head * S; var b = 0L
      ys.tail.foreach { y =>
        val l2 = (y * S + l + b) / 2 // all terms nonneg, / == div
        // trend can be negative: replicate truncating div explicitly
        val bn = l2 - l + b
        b = bn / 2 // JVM / truncates toward zero, same as Spark div
        l = l2
      }
      et -> ((l, b, l + 7 * b))
    }
    val got = analytics.Trend.holtForecast.fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got === expect)
  }

  test("x146 crafted: drawdown lands at the worst trough below the running peak") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dd").toString
    // one priority, four ISO weeks: 100, 300, 120, 250 dollars
    Seq(("2024-01-01", 100.0), ("2024-01-08", 300.0),
        ("2024-01-15", 120.0), ("2024-01-22", 250.0))
      .zipWithIndex.map { case ((d, v), i) =>
        (i.toLong, i.toLong, "O", v, java.sql.Timestamp.valueOf(s"$d 00:00:00"), "P1") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = analytics.Trend.maxDrawdown.fn(spark, dir)
      .as[(String, java.sql.Date, Long, Long, Long, Option[Double])].collect().head
    assert(r._2.toString === "2024-01-15")
    assert((r._3, r._4, r._5) === ((30000L, 12000L, 18000L)))
    assert(r._6 === Some(18000.0 / 30000.0))
  }

  test("x147 crafted: hand-computed MASE on a three-day series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mase").toString
    // day counts 4, 8, 10 → sh = 4S + 3S, sn = 4S + 2S → mase = 7/6
    val rows = (1 to 4).map(i => (i.toLong, "2024-01-01")) ++
      (5 to 12).map(i => (i.toLong, "2024-01-02")) ++
      (13 to 22).map(i => (i.toLong, "2024-01-03"))
    rows.map { case (id, d) =>
      (id, java.sql.Timestamp.valueOf(s"$d 08:00:00"), 1L, "view", 1.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val S = 1L << 20
    val r = analytics.Trend.holtBacktest.fn(spark, dir)
      .as[(String, Long, Long, Long, Option[Double])].collect().head
    assert(r === (("view", 3L, 7 * S, 6 * S, Some(7.0 / 6.0))))
  }

  test("x147 real data: error sums equal a scalar sequential replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val S = 1L << 20
    val axis = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("y"))
      .orderBy(col("event_type"), col("day"))
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.toString).map(_._3)).toMap
    val expect = axis.map { case (et, ys) =>
      var l = ys.head * S; var b = 0L; var py = ys.head
      var sh = 0L; var sn = 0L
      ys.tail.foreach { y =>
        sh += math.abs(y * S - (l + b)); sn += math.abs(y - py) * S
        val l2 = (y * S + l + b) / 2
        b = (l2 - l + b) / 2; l = l2; py = y
      }
      et -> ((sh, sn))
    }
    val got = analytics.Trend.holtBacktest.fn(spark, sf)
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got === expect)
  }

  test("x151 crafted: one outlier day cannot move the Theil-Sen slope") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString
    // daily counts 0?: days must have >=1 event to appear; use 2,4,6,100
    // on consecutive days → underlying slope 2, one wild outlier
    val counts = Seq(("2024-01-01", 2), ("2024-01-02", 4),
      ("2024-01-03", 6), ("2024-01-04", 100))
    val rows = counts.zipWithIndex.flatMap { case ((d, n), di) =>
      (1 to n).map(i => ((di * 1000 + i).toLong,
        java.sql.Timestamp.valueOf(s"$d 08:00:00"), 1L, "view", 1.0, "")) }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = analytics.Trend.theilSen.fn(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect().head
    // slopes: 2,2,2 then (0,3):98/3, (1,3):96/2, (2,3):94/1 → median rank
    // (6+1) div 2 = 3 → the third slope-2 pair by (num, den, xi, xj)
    assert((r._2, r._5) === ((6L, 2.0)))
    assert(r._3.toDouble / r._4 === 2.0)
  }

  test("x151 real data: rows equal a scalar all-pairs replay") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val axis = Tables.events(spark, sf)
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(count(lit(1)).cast("long").as("y"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
    val expect = axis.map { case (et, pts) =>
      val pairs = for {
        (xi, yi) <- pts; (xj, yj) <- pts if xj > xi
      } yield (yj - yi, xj - xi, xi, xj)
      val sorted = pairs.sortBy { case (n, d, xi, xj) =>
        (n.toDouble / d, n, d, xi, xj) }
      val pick = sorted((pairs.size + 1) / 2 - 1)
      et -> ((pairs.size.toLong, pick._1, pick._2, pick._1.toDouble / pick._2))
    }
    val got = analytics.Trend.theilSen.fn(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === expect)
  }

  test("x157 crafted: PAVA pools the violating pair; monotone input is identity") {
    val dir = java.nio.file.Files.createTempDirectory("graft-iso").toString
    writeEvents(dir, Seq(
      // "v": day means 10, 30, 20, 40 → pool (30, 20) → 10, 25, 25, 40
      (1L, "2024-01-01 08:00:00", "v", 10.0),
      (2L, "2024-01-02 08:00:00", "v", 30.0),
      (3L, "2024-01-03 08:00:00", "v", 20.0),
      (4L, "2024-01-04 08:00:00", "v", 40.0),
      // "m": already monotone → fitted == means exactly
      (5L, "2024-01-01 08:00:00", "m", 1.0),
      (6L, "2024-01-02 08:00:00", "m", 2.0),
      (7L, "2024-01-03 08:00:00", "m", 3.0),
      // "w": weighted pool — mean 30 (w=1) then 10 (w=3) → (3000+3000)/4 = 15
      (8L, "2024-01-05 08:00:00", "w", 30.0),
      (9L, "2024-01-06 08:00:00", "w", 10.0),
      (10L, "2024-01-06 09:00:00", "w", 10.0),
      (11L, "2024-01-06 10:00:00", "w", 10.0)))
    val got = analytics.Trend.isotonic.fn(spark, dir)
      .as[(String, java.sql.Date, Double, Double)].collect()
      .map(r => (r._1, r._2.toString) -> ((r._3, r._4))).toMap
    assert(got(("v", "2024-01-01")) === ((1000.0, 1000.0)))
    assert(got(("v", "2024-01-02")) === ((3000.0, 2500.0)))
    assert(got(("v", "2024-01-03")) === ((2000.0, 2500.0)))
    assert(got(("v", "2024-01-04")) === ((4000.0, 4000.0)))
    Seq("2024-01-01" -> 100.0, "2024-01-02" -> 200.0, "2024-01-03" -> 300.0)
      .foreach { case (d, m) => assert(got(("m", d)) === ((m, m))) }
    assert(got(("w", "2024-01-05")) === ((3000.0, 1500.0)))
    assert(got(("w", "2024-01-06")) === ((1000.0, 1500.0)))
  }

  test("x161 crafted: constant series gives a zero band; 2-day series has no quantile") {
    val dir = java.nio.file.Files.createTempDirectory("graft-conf").toString
    writeEvents(dir,
      // "c": 4 events/day for 5 days → every residual 0 → qhat 0, band [4, 4]
      (1 to 5).flatMap(d => (1 to 4).map(i =>
        ((d * 10 + i).toLong, f"2024-01-0$d 08:00:00", "c", 1.0))) ++
      // "s": 2 days → m = 1 < idx = 2 → qhat/lo/hi NULL
      Seq((100L, "2024-01-01 08:00:00", "s", 1.0),
        (101L, "2024-01-02 08:00:00", "s", 1.0)))
    val got = analytics.Trend.conformalInterval.fn(spark, dir)
      .as[(String, Long, Long, Long, Option[Long], Double, Option[Double],
        Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    val c = got("c")
    assert((c._2, c._3, c._4, c._5) === ((5L, 4L, 4L, Some(0L))))
    assert((c._6, c._7, c._8) === ((4.0, Some(4.0), Some(4.0))))
    val s2 = got("s")
    assert((s2._3, s2._4, s2._5, s2._7, s2._8) ===
      ((1L, 2L, None, None, None)))
  }

  test("x161 real data: the order statistic covers >= idx/m of the calibration scores") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val S = 1L << 20
    // scalar replay of the Holt one-step residual walk per type
    val series = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("y"))
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2.toString).map(_._3)).toMap
    val resid = series.map { case (et, ys) =>
      var l = ys.head * S; var b = 0L
      val rs = ys.tail.map { y =>
        val r = math.abs(y * S - (l + b))
        val l2 = (y * S + l + b) / 2; b = (l2 - l + b) / 2; l = l2
        r
      }
      et -> rs
    }
    val got = analytics.Trend.conformalInterval.fn(spark, sf)
      .as[(String, Long, Long, Long, Option[Long], Double, Option[Double],
        Option[Double])].collect()
    assert(got.nonEmpty)
    got.foreach { case (et, _, m, idx, qhat, f, lo, hi) =>
      val rs = resid(et)
      assert(m === rs.size)
      assert(idx === ((m + 1) * 4 + 4) / 5)
      assert(qhat === Some(rs.sorted.apply(idx.toInt - 1)))
      // finite-sample guarantee mechanics: >= idx of the m scores <= qhat
      assert(rs.count(_ <= qhat.get) >= idx)
      assert(lo === Some(f - qhat.get.toDouble / S) ||
        math.abs(lo.get - (f - qhat.get.toDouble / S)) < 1e-9)
      assert(hi.get >= lo.get)
    }
  }

  test("x167 crafted: hand-counted weekday effects (2024-01-07 is a Sunday)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dow").toString
    writeEvents(dir,
      (1 to 2).map(i => (i.toLong, "2024-01-07 08:00:00", "v", 1.0)) ++    // Sun: 2
      (3 to 6).map(i => (i.toLong, "2024-01-08 08:00:00", "v", 1.0)) ++    // Mon: 4
      (7 to 12).map(i => (i.toLong, "2024-01-15 08:00:00", "v", 1.0)))     // Mon: 6
    val got = analytics.Trend.dowProfile.fn(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._2 -> r).toMap
    // overall daily mean 12/3 = 4; Sunday mean 2 (effect −2), Monday 5 (+1)
    assert(got(0L) === (("v", 0L, 1L, 2L, 2.0, -2.0)))
    assert(got(1L) === (("v", 1L, 2L, 10L, 5.0, 1.0)))
    assert(got.size === 2)
  }

  test("x167 real data: day-weighted effects cancel per type; dows valid") {
    val got = analytics.Trend.dowProfile.fn(spark, sf)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (_, dow, nd, sd, mean, _) =>
      assert(dow >= 0L && dow <= 6L)
      assert(mean === sd.toDouble / nd)
    }
    got.groupBy(_._1).foreach { case (_, rows) =>
      // Σ n_d · effect = 0 exactly in the rationals; floats within ulps
      val cancel = rows.map(r => r._3 * r._6).sum
      val scale = rows.map(r => math.abs(r._3 * r._6)).sum.max(1.0)
      assert(math.abs(cancel) / scale < 1e-12)
    }
  }

  test("x157 real data: monotone, bounded by the mean range, mean-preserving") {
    import org.apache.spark.sql.functions._
    val r = analytics.Trend.isotonic.fn(spark, sf)
      .as[(String, java.sql.Date, Double, Double)].collect()
      .groupBy(_._1)
    assert(r.nonEmpty)
    r.foreach { case (_, rows) =>
      val byDay = rows.sortBy(_._2.toString)
      // non-decreasing fit, bounded by the observed mean range
      byDay.sliding(2).foreach {
        case Array(a, b) => assert(a._4 <= b._4); case _ => }
      assert(byDay.forall(x =>
        x._4 >= byDay.map(_._3).min - 1e-9 && x._4 <= byDay.map(_._3).max + 1e-9))
    }
    // PAVA preserves the weighted mean: Σ sw·fit = Σ sw·mean (= Σ pennies)
    val wts = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("sw"))
      .as[(String, java.sql.Date, Long)].collect()
      .map(x => (x._1, x._2.toString) -> x._3).toMap
    r.foreach { case (et, rows) =>
      val tot = rows.map(x => wts((et, x._2.toString)) * x._3).sum
      val fit = rows.map(x => wts((et, x._2.toString)) * x._4).sum
      assert(math.abs(tot - fit) / math.max(math.abs(tot), 1.0) < 1e-9)
    }
  }
}
