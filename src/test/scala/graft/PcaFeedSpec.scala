package graft

import org.apache.spark.sql.DataFrame

/** PcaFeed: incremental scatter sums must reproduce the registered x153
  * frame bit-for-bit under any batch split, and the state must stay at
  * its fixed 2,145-row footprint whatever the history. */
class PcaFeedSpec extends SparkSuite {
  import spark.implicits._

  private def chunk(lo: Long, hi: Long): DataFrame =
    Tables.embeddings(spark, sf).filter($"vec_id".between(lo, hi))

  private def snap(df: DataFrame): Seq[(Long, Long, Double, Double)] =
    df.as[(Long, Long, Double, Double)].collect().toSeq.sortBy(_._1)

  test("three batch splits reproduce the x153 batch frame exactly") {
    var store = streaming.PcaFeed.emptyState(spark)
    Seq((0L, 40L), (41L, 99L), (100L, 10000L)).foreach { case (lo, hi) =>
      store = streaming.PcaFeed.applyBatch(store, chunk(lo, hi)).localCheckpoint()
    }
    val batch = snap(ext.Pca.pcaPower.fn(spark, sf))
    assert(snap(streaming.PcaFeed.view(store)) === batch)
    // bounded state: 64·65/2 pair rows + 64 linear + 1 count
    assert(store.count() === 2080L + 64L + 1L)
  }

  test("split order does not matter; empty batches are no-ops") {
    val a = streaming.PcaFeed.applyBatch(
      streaming.PcaFeed.applyBatch(streaming.PcaFeed.emptyState(spark),
        chunk(0L, 49L)).localCheckpoint(),
      chunk(50L, 10000L)).localCheckpoint()
    val b0 = streaming.PcaFeed.applyBatch(
      streaming.PcaFeed.applyBatch(streaming.PcaFeed.emptyState(spark),
        chunk(50L, 10000L)).localCheckpoint(),
      chunk(0L, 49L)).localCheckpoint()
    val b = streaming.PcaFeed.applyBatch(b0, chunk(0L, 10000L).limit(0))
      .localCheckpoint()
    val sa = a.orderBy($"j", $"k").collect().toSeq
    val sb = b.orderBy($"j", $"k").collect().toSeq
    assert(sa === sb)
    assert(snap(streaming.PcaFeed.view(a)) === snap(streaming.PcaFeed.view(b)))
  }
}
