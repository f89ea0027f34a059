package graft

import java.sql.Timestamp

/** x58 cohort retention: the oracle pins the grid on the real log; this
  * pins the semantics on crafted input — cohort = integer-week of first
  * event, offsets count DISTINCT active weeks (duplicate events in a week
  * collapse), gaps produce no row, and diagonal sums equal per-week
  * distinct-actives. */
class CohortSpec extends SparkSuite {
  import spark.implicits._

  private def write(dir: String, rows: Seq[(Long, String, Long)]): Unit =
    rows.map { case (id, ts, u) =>
      (id, Timestamp.valueOf(ts), u, "view", 0.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("crafted grid: first week defines cohort, dup events collapse, gaps skip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cohort").toString
    // Week boundaries in epoch-us weeks: 2024-01-04 and 2024-01-11 are in
    // consecutive integer weeks; 2024-01-25 is three weeks after the first.
    write(dir, Seq(
      // u1: weeks w, w+1, and (twice) w+3 - offsets 0,1,3; no offset 2
      (1L, "2024-01-04 10:00:00", 1L),
      (2L, "2024-01-11 10:00:00", 1L),
      (3L, "2024-01-25 09:00:00", 1L),
      (4L, "2024-01-25 10:00:00", 1L),
      // u2: joins a week later, active only that week - single offset-0 row
      (5L, "2024-01-11 12:00:00", 2L)))
    val got = analytics.Cohort.retention.fn(spark, dir)
      .select($"cohort_week", $"week_offset", $"n_users")
      .as[(Long, Long, Long)].collect().toSeq
    val byCohort = got.groupBy(_._1)
    assert(byCohort.size === 2)
    val Seq(c1, c2) = got.map(_._1).distinct.sorted
    assert(byCohort(c1).map(t => (t._2, t._3)) === Seq((0L, 1L), (1L, 1L), (3L, 1L)))
    assert(byCohort(c2).map(t => (t._2, t._3)) === Seq((0L, 1L)))
    assert(c2 === c1 + 1)
  }

  test("real log: offset-0 row equals cohort size; counts never exceed it") {
    val rows = analytics.Cohort.retention.fn(spark, sf)
      .select($"cohort_week", $"week_offset", $"n_users")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, grid) =>
      val size0 = grid.find(_._2 == 0L).map(_._3)
      assert(size0.nonEmpty, "every cohort is active in its own first week")
      assert(grid.forall(_._3 <= size0.get), "no offset outdraws the cohort itself")
      assert(grid.forall(_._2 >= 0L), "offsets are never negative")
    }
    // grand total of offset-0 rows = total distinct users in the log
    val users = Tables.events(spark, sf).select($"user_id").distinct().count()
    assert(rows.filter(_._2 == 0L).map(_._3).sum === users)
  }

  test("x168 crafted: hand-counted LTV curve with a skipped month") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ltv").toString
    Seq( // (orderkey, custkey, totalprice, date)
      (1L, 1L, 10.0, "1995-01-15"), (2L, 1L, 20.0, "1995-03-02"),
      (3L, 2L, 5.0, "1995-01-20"))
      .map { case (k, c, p, d) =>
        (k, c, "O", p, Timestamp.valueOf(s"$d 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val cohort = 1995L * 12 // Jan 1995, zero-based month index
    val got = analytics.Cohort.cohortLtv.fn(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (cohort, 0L, 1500L, 2L, 1500L, 2L, 750.0),
      (cohort, 2L, 2000L, 1L, 3500L, 2L, 1750.0)))
  }

  test("x168 real data: curve laws per cohort") {
    val got = analytics.Cohort.cohortLtv.fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    // Σ over cohorts of size = customer count (every customer has one cohort)
    val cohSizes = got.groupBy(_._1).map(_._2.head._6).sum
    val nCust = Tables.orders(spark, sf)
      .select($"o_custkey").distinct().count()
    assert(cohSizes === nCust)
    got.groupBy(_._1).values.foreach { rows =>
      val byAge = rows.sortBy(_._2)
      assert(byAge.head._2 === 0L) // age 0 exists by construction
      assert(byAge.head._4 === byAge.head._6) // month 0: whole cohort active
      // cumulative consistency + monotone LTV
      var cum = 0L
      byAge.foreach { r =>
        cum += r._3
        assert(r._5 === cum)
        assert(r._7 === cum.toDouble / r._6)
        assert(r._4 <= r._6) // never more active than acquired
      }
    }
  }
}
