package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for a NAMED subset of registry queries to
  * individual files — the per-query before/after plan evidence an
  * optimization round commits under `plans/rNN/` (PLANS.md carries the
  * whole registry; this carries the diff story for the queries a round
  * touched). Usage:
  *
  *   sbt "runMain graft.ExplainOne <sfDir> <outDir> <suffix> <q1,q2,...>"
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: ExplainOne <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qlist) = args
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = Session(4)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[explain-one] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
