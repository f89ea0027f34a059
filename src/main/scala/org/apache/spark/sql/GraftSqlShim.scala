package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` construction API — the standard way for an
  * external library to materialize a DataFrame from a custom LogicalPlan,
  * or a Column from a custom Expression (same technique as public
  * Spark-extension libraries; see SNIPPETS.md [1]/[3] for the pattern in
  * the wild). Kept to the two calls the graft plans and functions
  * packages need. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `build` over the argument columns' expressions, as a Column. No
    * function-registry entry is involved, so no session is touched. */
  def column(args: Column*)(build: Seq[Expression] => Expression): Column =
    classic.ExpressionUtils.column(build(args.map(classic.ExpressionUtils.expression)))
}
