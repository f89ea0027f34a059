package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Incremental KMV: any batch split folds to the identical sketch
  * (merge associativity made operational), the streaming
  * mapGroupsWithState form agrees with the batch aggregator across
  * micro-batches, and state stays ≤ k whatever streams through. */
class KmvFeedSpec extends SparkSuite {
  import spark.implicits._
  import graft.streaming.KmvFeed

  private def events(rows: Seq[(Long, String)]) =
    rows.toDF("user_id", "event_type")

  /** Reference sketch: the one-shot batch aggregation over everything. */
  private def oneShot(rows: Seq[(Long, String)]): Map[String, Seq[Long]] = {
    val empty = events(Nil).select(col("event_type"),
      array().cast("array<long>").as("mins"))
    KmvFeed.applyBatch(empty, events(rows))
      .as[(String, Seq[Long])].collect().toMap
  }

  test("incremental applyBatch over any split equals the one-shot sketch") {
    val rows = (0 until 500).map(i => ((i * 13 % 211).toLong, if (i % 3 == 0) "a" else "b"))
    val whole = oneShot(rows)
    // three uneven splits, applied in sequence
    var store = events(Nil).select(col("event_type"),
      array().cast("array<long>").as("mins"))
    Seq(rows.take(50), rows.slice(50, 300), rows.drop(300)).foreach { part =>
      store = KmvFeed.applyBatch(store, events(part)).localCheckpoint()
    }
    val inc = store.as[(String, Seq[Long])].collect().toMap
    assert(inc === whole)
    // and the estimate view agrees with the batch estimator
    val est = KmvFeed.estimates(store)
      .as[(String, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    whole.foreach { case (k, mins) =>
      val expected = graft.ext.Kmv.estimate(mins.toArray)
      assert(est(k) === ((expected.map(_._1), expected.map(_._2))))
    }
  }

  test("mapGroupsWithState stream across micro-batches equals the batch sketch") {
    val b1 = (0 until 200).map(i => ((i * 7 % 97).toLong, "a"))
    val b2 = (0 until 200).map(i => ((i * 11 % 193).toLong, "a"))
    val mem = MemoryStream[(Long, String)](spark)
    val q = KmvFeed.sketchStream(mem.toDF().toDF("user_id", "event_type"))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("kmv_feed")
      .start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // last Update row per key is the live sketch after both batches
    val last = spark.table("kmv_feed")
      .as[(String, Long, Option[Long], Option[Long])].collect().toSeq
      .zipWithIndex.groupBy(_._1._1).map { case (k, rs) => rs.maxBy(_._2)._1 }
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val whole = oneShot(b1 ++ b2)
    val expected = whole.map { case (k, mins) =>
      val est = graft.ext.Kmv.estimate(mins.toArray)
      k -> ((mins.length.toLong, est.map(_._1), est.map(_._2)))
    }
    assert(last === expected)
    // bounded state: never more than k mins survive
    assert(last.values.forall(_._1 <= 32L))
  }
}
