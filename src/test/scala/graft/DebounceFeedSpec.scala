package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Streaming debounce: the mapGroupsWithState form agrees with the
  * batch x83 fold across micro-batch boundaries — including a window
  * that SPANS the boundary (the state handoff the batch replay can't
  * see) — and state stays three longs whatever streams through. */
class DebounceFeedSpec extends SparkSuite {
  import spark.implicits._
  import graft.streaming.DebounceFeed

  private def ev(rows: Seq[(Long, String, Long)]) =
    rows.map { case (id, ts, u) => (id, Timestamp.valueOf(ts), u) }
      .toDF("event_id", "ts", "user_id")

  test("stream across micro-batches equals the batch fold; windows span boundaries") {
    // u1: batch1 keeps 00:00 and drops 01:00; batch2's 05:00 is still
    // inside the 6h window OF THE KEPT EVENT (state carried across the
    // boundary), 06:00 is kept. u2 appears only in batch2.
    val b1 = Seq(
      (1L, "2024-01-01 00:00:00", 1L),
      (2L, "2024-01-01 01:00:00", 1L))
    val b2 = Seq(
      (3L, "2024-01-01 05:00:00", 1L),
      (4L, "2024-01-01 06:00:00", 1L),
      (5L, "2024-02-01 00:00:00", 2L))
    val mem = MemoryStream[(Long, Timestamp, Long)](spark)
    val q = DebounceFeed.debounceStream(
        mem.toDF().toDF("event_id", "ts", "user_id"))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("debounce_feed")
      .start()
    try {
      mem.addData(b1.map { case (id, ts, u) => (id, Timestamp.valueOf(ts), u) })
      q.processAllAvailable()
      mem.addData(b2.map { case (id, ts, u) => (id, Timestamp.valueOf(ts), u) })
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("debounce_feed")
      .as[(Long, Long, Long, Long)].collect().toSeq
      .zipWithIndex.groupBy(_._1._1).map { case (_, rs) => rs.maxBy(_._2)._1 }
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    // batch replay over the union — the x83 oracle path
    val dir = java.nio.file.Files.createTempDirectory("graft-dbf").toString
    (b1 ++ b2).map { case (id, ts, u) =>
      (id, Timestamp.valueOf(ts), u, "view", 1.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = analytics.Anomaly.debounce.fn(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(last === batch)
    // the boundary-spanning drop actually happened
    assert(last(1L)._2 === 2L, "u1 must keep exactly {00:00, 06:00}")
  }
}
