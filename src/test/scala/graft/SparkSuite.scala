package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (getOrCreate)
  * built by [[Session]] on 4 cores, plus a scratch warehouse for the specs
  * that save tables. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** Flatten an executed plan, descending through the AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec) that hide materialized
    * stages from a plain children traversal. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flattenPlan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flattenPlan(q.plan)
      case _ => p +: p.children.flatMap(flattenPlan)
    }
}

object SparkSuite {
  lazy val session: SparkSession = Session.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}
