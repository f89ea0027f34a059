package graft.streaming

import org.apache.spark.sql.functions._

/** Runnable demo of the weekly-feed streaming pipeline:
  * `sbt "runMain graft.streaming.FeedDemo [sfDir]"`.
  * Drops the events table into a watched directory, runs the feed twice
  * (second run with no new files must be a no-op), prints store counts.
  */
object FeedDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session(graft.Session.cores)

    val flat = java.nio.file.Files.createTempDirectory("feed-in").toString
    val store = java.nio.file.Files.createTempDirectory("feed-store").toString + "/snap"
    val cp = java.nio.file.Files.createTempDirectory("feed-cp").toString

    graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(flat)

    WeeklyFeed.runFeed(spark, flat, store, cp).awaitTermination()
    val n1 = spark.read.parquet(store).count()
    println(s"[feed-demo] store rows after first feed = $n1")

    WeeklyFeed.runFeed(spark, flat, store, cp).awaitTermination()
    val n2 = spark.read.parquet(store).count()
    println(s"[feed-demo] store rows after empty re-run = $n2 (no-op: ${n1 == n2})")
    spark.stop()
  }
}
