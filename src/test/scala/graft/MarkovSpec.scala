package graft

import java.sql.Timestamp

/** x62 Markov transitions: the oracle pins the matrix on the real log;
  * this pins the sequencing semantics — transitions never cross users,
  * same-microsecond ties order by event_id, and each row of the matrix is
  * a probability distribution. */
class MarkovSpec extends SparkSuite {
  import spark.implicits._

  private def write(dir: String, rows: Seq[(Long, String, Long, String)]): Unit =
    rows.map { case (id, ts, u, t) =>
      (id, Timestamp.valueOf(ts), u, t, 0.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("crafted sequences: per-user chains, tie order, no cross-user edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-markov").toString
    write(dir, Seq(
      // u1: a -> b -> a  (ties at the same microsecond order by event_id)
      (1L, "2024-01-01 10:00:00", 1L, "a"),
      (2L, "2024-01-01 10:00:00", 1L, "b"),
      (3L, "2024-01-01 10:00:00", 1L, "a"),
      // u2: a -> b       (u2's trailing b never chains into u1's events)
      (4L, "2024-01-02 10:00:00", 2L, "a"),
      (5L, "2024-01-02 10:01:00", 2L, "b")))
    val got = analytics.Markov.transitions.fn(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === Seq(("a", "b", 2L, 1.0), ("b", "a", 1L, 1.0)))
  }

  test("real log: every src row is a probability distribution over dsts") {
    val rows = analytics.Markov.transitions.fn(spark, sf)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, ts) =>
      val total = ts.map(_._4).sum
      assert(math.abs(total - 1.0) < 1e-9, s"$src row sums to $total")
      assert(ts.forall(_._4 > 0))
    }
    // transition totals = events minus one per participating user
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select($"user_id").distinct().count()
    assert(rows.map(_._3).sum === expected)
  }

  test("x75 crafted paths: trigram counts, user isolation, same-ts tie order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-paths").toString
    write(dir, Seq(
      // u1: a b c d -> paths "a b c", "b c d"
      (1L, "2024-01-01 00:00:01", 1L, "a"),
      (2L, "2024-01-01 00:00:02", 1L, "b"),
      (3L, "2024-01-01 00:00:03", 1L, "c"),
      (4L, "2024-01-01 00:00:04", 1L, "d"),
      // u2: a b c (b and c share a timestamp: event_id breaks the tie)
      (5L, "2024-01-01 00:00:01", 2L, "a"),
      (6L, "2024-01-01 00:00:02", 2L, "b"),
      (7L, "2024-01-01 00:00:02", 2L, "c"),
      // u3: too short for any path - and no path may span users
      (8L, "2024-01-01 00:00:01", 3L, "x"),
      (9L, "2024-01-01 00:00:02", 3L, "y")))
    val got = analytics.Markov.topPaths.fn(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a b c", 2L), ("b c d", 1L)))
  }
}
