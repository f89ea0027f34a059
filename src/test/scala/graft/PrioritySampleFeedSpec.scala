package graft

import org.apache.spark.sql.DataFrame

/** PrioritySampleFeed: the incremental top-(k+1) shortlist must
  * reproduce the registered x159 sample frame exactly under any batch
  * split, absorb replays as no-ops, and never hold more than 65 rows. */
class PrioritySampleFeedSpec extends SparkSuite {
  import spark.implicits._

  private def chunk(lo: Long, hi: Long): DataFrame =
    Tables.orders(spark, sf).filter($"o_orderkey".between(lo, hi))

  private def snap(df: DataFrame): Seq[(Long, Long, Double, Double, Double)] =
    df.as[(Long, Long, Double, Double, Double)].collect().toSeq

  test("three batch splits reproduce the x159 batch frame exactly") {
    var store = streaming.PrioritySampleFeed.emptyState(spark)
    Seq((0L, 3000L), (3001L, 20000L), (20001L, Long.MaxValue)).foreach {
      case (lo, hi) =>
        store = streaming.PrioritySampleFeed
          .applyBatch(store, chunk(lo, hi)).localCheckpoint()
        assert(store.count() <= 65L) // bounded state at every fold
    }
    val batch = snap(ext.Sampling.prioritySample.fn(spark, sf))
    assert(batch.size === 64)
    assert(snap(streaming.PrioritySampleFeed.view(store)) === batch)
  }

  test("replayed batches are no-ops; under-filled state views empty") {
    val tiny = streaming.PrioritySampleFeed.applyBatch(
      streaming.PrioritySampleFeed.emptyState(spark), chunk(0L, 40L))
      .localCheckpoint()
    // <65 orders → no threshold exists → the view is honestly empty,
    // matching the batch query's own behavior on a sub-65-row corpus
    assert(tiny.count() < 65L)
    assert(streaming.PrioritySampleFeed.view(tiny).count() === 0L)
    var a = streaming.PrioritySampleFeed.applyBatch(
      streaming.PrioritySampleFeed.emptyState(spark), chunk(0L, Long.MaxValue))
      .localCheckpoint()
    val before = a.orderBy($"q".desc, $"o_orderkey").collect().toSeq
    // re-deliver an overlapping batch: identical priorities, deduped away
    a = streaming.PrioritySampleFeed.applyBatch(a, chunk(0L, 20000L))
      .localCheckpoint()
    assert(a.orderBy($"q".desc, $"o_orderkey").collect().toSeq === before)
  }
}
