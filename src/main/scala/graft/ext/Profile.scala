package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass column profiling — the `ANALYZE TABLE` of this engine, and
  * the QA primitive the reference's loaders implicitly depend on (its
  * prep step hand-checks nulls/sentinels per column; a 100 TB pipeline
  * profiles EVERY landed partition before promotion). One scan computes,
  * for every column: row count, null count, exact distinct count, and
  * min/max (numeric-rendered for numerics/timestamps — exact selection,
  * no arithmetic — and lexicographic for strings, where both engines
  * compare binary UTF-8).
  *
  * Plan shape: ONE global aggregation (Spark rewrites the multi-column
  * COUNT(DISTINCT) with an Expand — input × (k+1) rows map-side, still
  * one pass over the files, partial-aggregated so the shuffle carries
  * per-partition partials only), then the 1-row result explodes into
  * one output row per column. At 100 TB the same plan runs per
  * partition-to-promote; the exact distincts swap for
  * `approx_count_distinct` (a1b's HLL posture) when ±2% is acceptable —
  * the oracle pins the exact form.
  *
  * Known plan note: the string min/max buffers are immutable, so Spark
  * picks SortAggregate — but the aggregate is KEYLESS, so nothing is
  * sorted and the cost equals a hash aggregate (declared in
  * PlanAuditSpec's allowlist with this reason; the no-SortAggregate
  * rule exists for keyed aggregations).
  */
object Profile {

  /** (name, numeric view for min/max, is-string) per profiled column —
    * timestamps profile on exact epoch micros (integers ≤ 2^53 are
    * exact in double; MIN/MAX select, never sum). */
  private case class Col(name: String, num: Option[Column], str: Boolean)

  private val eventCols = Seq(
    Col("event_id", Some(col("event_id").cast("double")), str = false),
    Col("event_type", None, str = true),
    Col("props", None, str = true),
    Col("ts", Some(unix_micros(col("ts")).cast("double")), str = false),
    Col("user_id", Some(col("user_id").cast("double")), str = false),
    Col("value", Some(col("value")), str = false))

  private def profile(df: DataFrame, cols: Seq[Col]): DataFrame = {
    val aggs = cols.flatMap { c =>
      val v = col(c.name)
      Seq(
        count(lit(1)).as(s"${c.name}__n"),
        sum(when(v.isNull, 1L).otherwise(0L)).as(s"${c.name}__nn"),
        countDistinct(v).as(s"${c.name}__nd"),
        c.num.map(n => min(n)).getOrElse(lit(null).cast("double")).as(s"${c.name}__mn"),
        c.num.map(n => max(n)).getOrElse(lit(null).cast("double")).as(s"${c.name}__mx"),
        (if (c.str) min(v) else lit(null).cast("string")).as(s"${c.name}__ms"),
        (if (c.str) max(v) else lit(null).cast("string")).as(s"${c.name}__xs"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c.name).as("column"),
        col(s"${c.name}__n").as("n"),
        col(s"${c.name}__nn").as("n_null"),
        col(s"${c.name}__nd").as("n_distinct"),
        col(s"${c.name}__mn").as("min_num"),
        col(s"${c.name}__mx").as("max_num"),
        col(s"${c.name}__ms").as("min_str"),
        col(s"${c.name}__xs").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("column"))
  }

  private def colSql(name: String, numExpr: Option[String], isStr: Boolean): String = {
    val mn = numExpr.map(e => s"CAST(MIN($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
    val mx = numExpr.map(e => s"CAST(MAX($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")
    val ms = if (isStr) s"MIN($name)" else "CAST(NULL AS VARCHAR)"
    val xs = if (isStr) s"MAX($name)" else "CAST(NULL AS VARCHAR)"
    s"""SELECT '$name' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(*) - COUNT($name) AS BIGINT) AS n_null,
       |  CAST(COUNT(DISTINCT $name) AS BIGINT) AS n_distinct,
       |  $mn AS min_num, $mx AS max_num, $ms AS min_str, $xs AS max_str
       |FROM events""".stripMargin
  }

  private def profileOracle: String =
    Seq(
      colSql("event_id", Some("event_id"), isStr = false),
      colSql("event_type", None, isStr = true),
      colSql("props", None, isStr = true),
      colSql("ts", Some("epoch_us(ts)"), isStr = false),
      colSql("user_id", Some("user_id"), isStr = false),
      colSql("value", Some("value"), isStr = false))
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")

  /** x56: one-pass profile of the events table — n / nulls / exact
    * distincts / typed min-max per column, one row per column. */
  val profileEvents = Q.withOracle(
    "x56_profile_columns",
    "x56: one-pass per-column profile (n, nulls, exact distincts, typed min/max)",
    profileOracle) { (s, dir) => profile(Tables.events(s, dir), eventCols) }

  val all: Seq[Q] = Seq(profileEvents)
}
