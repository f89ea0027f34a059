package graft.analytics

import graft.Parity
import graft.ingest.HhsLoad
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's 8 Streamlit report queries (`weekly-report.py:269-403`)
  * over the ingested healthcare store (the output of HhsLoad/QualityLoad)
  * — the piece that lets a reference user switch wholesale: same tables,
  * same columns, same NULL/rounding semantics, Spark plans instead of
  * Postgres SQL strings.
  *
  * Faithfulness notes:
  * - Q6 keeps the reference's `SUM(a+p) - SUM(ao+po)` form — two
  *   independently NULL-propagating sums subtracted — NOT one
  *   `SUM(a+p-ao-po)` (different rows drop in each).
  * - Q3's DISTINCT ON has no deterministic tie-break in the reference
  *   (Postgres picks arbitrarily on equal rating_dates); we add one
  *   (SURVEY.md §7.3.4) — the single deliberate divergence.
  * - All "latest week" scalars are computed once and broadcast; the one
  *   unpartitioned window (Q1) runs on the tiny week axis.
  */
final class HealthReport private (
    spark: SparkSession, tables: String => DataFrame, asOf: java.sql.Date) {
  import Parity._

  /** Store-directory form (the fixture-ingest path the specs drive). */
  def this(spark: SparkSession, storeDir: String, asOf: java.sql.Date) =
    this(spark, graft.model.StoreSchemas.read(spark, storeDir, _), asOf)

  private def t(name: String): DataFrame = tables(name)

  private lazy val weeklyAll = t("weekly_report")
  private lazy val weekly = weeklyAll.filter(col("collection_week") <= lit(asOf))
  private lazy val hospital = t("hospital")
  private lazy val quality = t("hospital_quality")
  private lazy val location = t("location")

  /** hospital ⋈ location (INNER, like the reference's Q5/Q6/Q7 joins —
    * hospitals without a resolved location drop out there). */
  private lazy val hospitalLoc = hospital
    .join(broadcast(location.select(col("location_id"), col("city"), col("state"))),
      Seq("location_id"))
    .select(col("hospital_pk"), col("hospital_name"), col("city"), col("state"))

  private val adultBeds = col(HhsLoad.MetricCols(0))
  private val pedBeds = col(HhsLoad.MetricCols(1))
  private val adultOcc = col(HhsLoad.MetricCols(2))
  private val pedOcc = col(HhsLoad.MetricCols(3))
  private val covidBeds = col(HhsLoad.MetricCols(6))

  private lazy val latestWeek: DataFrame =
    weekly.agg(max(col("collection_week")).as("latest_week"))

  /** Q1 hospital_records_summary (report:270-287): hospitals reporting
    * per week, previous-week count, WoW difference. The reference then
    * restricts to two weeks and LIMIT 1; the full ordered series is a
    * superset carrying the same columns. */
  def recordsPerWeek: DataFrame = {
    val w = Window.orderBy(col("collection_week"))
    weekly.groupBy(col("collection_week"))
      .agg(countDistinct(col("hospital_weekly_id")).as("hospital_count"))
      .withColumn("previous_week_count",
        coalesce(lag(col("hospital_count"), 1).over(w), lit(0)))
      .withColumn("week_difference", col("hospital_count") - col("previous_week_count"))
      .orderBy(col("collection_week").desc)
  }

  /** Q2 beds_summary (report:288-307): 5 most recent weeks ≤ asOf, the
    * reference's five bed sums, week DESC. */
  def bedsSummary: DataFrame = {
    val recent = weekly.select(col("collection_week")).distinct()
      .orderBy(col("collection_week").desc).limit(5)
    weekly.join(broadcast(recent), Seq("collection_week"))
      .groupBy(col("collection_week"))
      .agg(
        dsum(adultBeds).as("total_adult_beds_available"),
        dsum(pedBeds).as("total_pediatric_beds_available"),
        dsum(adultOcc).as("total_adult_beds_occupied"),
        dsum(pedOcc).as("total_pediatric_beds_occupied"),
        dsum(covidBeds).as("total_covid_beds_used"))
      .orderBy(col("collection_week").desc)
  }

  /** Q3 beds_utilization (report:308-334): latest rating per facility ×
    * latest week's rows → percent beds in use per rating. */
  def qualityVsUsage: DataFrame = {
    val w = Window.partitionBy(col("facility_id"))
      .orderBy(col("rating_date").desc, col("quality_rating").desc_nulls_last)
    val latestRating = quality.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("facility_id"), col("quality_rating"))
    val latestRows = weeklyAll.join(broadcast(latestWeek),
      col("collection_week") === col("latest_week"))
    val num = dsumExact(dec(adultOcc) + dec(pedOcc))
    val den = dsumExact(dec(adultBeds) + dec(pedBeds))
    latestRating.join(latestRows, col("facility_id") === col("hospital_weekly_id"))
      .groupBy(col("quality_rating"))
      .agg(round(num * 100.0 / when(den === 0, lit(null)).otherwise(den), 1)
        .as("percent_beds_in_use"))
      .orderBy(col("quality_rating").asc_nulls_first)
  }

  /** Q4 weekly_beds_used (report:335-346): NULL-propagating total plus
    * covid beds per week ≤ asOf. */
  def bedsUsedPerWeek: DataFrame =
    weekly.groupBy(col("collection_week"))
      .agg(dsumExact(dec(adultOcc) + dec(pedOcc)).as("total_beds_used"),
        dsum(covidBeds).as("covid_beds_used"))
      .orderBy(col("collection_week"))

  /** Q5 covid_cases_by_state (report:347-358): covid beds per state over
    * ALL weeks (the reference applies no asOf filter here). */
  def covidByState: DataFrame =
    weeklyAll.join(broadcast(hospitalLoc), col("hospital_weekly_id") === col("hospital_pk"))
      .groupBy(col("state"))
      .agg(dsum(covidBeds).as("total_covid_cases"))
      .orderBy(col("state"))

  /** Q6 states_fewest_open_beds (report:359-372): the reference's exact
    * `SUM(a+p) − SUM(ao+po)` — two independently NULL-propagating sums. */
  def fewestOpenBedsByState: DataFrame = {
    val latestRows = weeklyAll.join(broadcast(latestWeek),
      col("collection_week") === col("latest_week"))
    latestRows.join(broadcast(hospitalLoc), col("hospital_weekly_id") === col("hospital_pk"))
      .groupBy(col("state"))
      .agg((dsumExact(dec(adultBeds) + dec(pedBeds)) -
        dsumExact(dec(adultOcc) + dec(pedOcc))).as("open_beds"))
      .orderBy(col("open_beds").asc_nulls_last, col("state"))
      .limit(10)
  }

  /** Q7 hospitals_not_reporting (report:373-386): hospital ⋈ location
    * LEFT ⋈ weekly; HAVING MAX(week) < latest (never-reporters NULL-drop);
    * name/city/state + last week, alphabetical top 10. */
  def nonReporting: DataFrame =
    hospitalLoc.join(weeklyAll, col("hospital_pk") === col("hospital_weekly_id"), "left")
      .groupBy(col("hospital_name"), col("city"), col("state"))
      .agg(max(col("collection_week")).as("last_reported_week"))
      .crossJoin(broadcast(latestWeek))
      .filter(col("last_reported_week") < col("latest_week"))
      .select(col("hospital_name"), col("city"), col("state"), col("last_reported_week"))
      .orderBy(col("hospital_name").asc, col("city"), col("state"))
      .limit(10)

  /** Q8 hospital_utilization_by_state_over_time (report:387-403). */
  def utilizationByState: DataFrame = {
    val num = dsumExact(dec(adultOcc) + dec(pedOcc))
    val den = dsumExact(dec(adultBeds) + dec(pedBeds))
    weekly.join(broadcast(hospitalLoc), col("hospital_weekly_id") === col("hospital_pk"))
      .groupBy(col("collection_week"), col("state"))
      .agg(round(num * 100.0 / when(den === 0, lit(null)).otherwise(den), 1)
        .as("percent_utilization"))
      .orderBy(col("collection_week"), col("state"))
  }

  /** generate_report (report:406-491): all eight, keyed like the reference. */
  def all: Map[String, DataFrame] = Map(
    "hospital_records_summary" -> recordsPerWeek,
    "beds_summary" -> bedsSummary,
    "beds_utilization" -> qualityVsUsage,
    "weekly_beds_used" -> bedsUsedPerWeek,
    "covid_cases_by_state" -> covidByState,
    "states_fewest_open_beds" -> fewestOpenBedsByState,
    "hospitals_not_reporting" -> nonReporting,
    "hospital_utilization_by_state_over_time" -> utilizationByState)
}

object HealthReport {

  /** Run the report over in-memory store tables (keys: weekly_report,
    * hospital, hospital_quality, location) — the registry's synthetic
    * derivation path (HealthSynth). */
  def onTables(spark: SparkSession, tables: Map[String, DataFrame],
      asOf: java.sql.Date): HealthReport =
    new HealthReport(spark, tables(_), asOf)
}
