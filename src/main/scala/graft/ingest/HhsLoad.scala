package graft.ingest

import graft.etl.Etl
import graft.model.StoreInsert
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's HHS weekly load (`load-hhs.py` + `helper_load_hhs.py`)
  * as a Spark pipeline over reference-shaped CSVs (FIXTURES.md §1):
  * project 17 columns, normalize sentinels/NaN to NULL, destructure the
  * WKT `POINT (lon lat)` geocode, dedup by hospital_pk, parse the
  * collection week, then upsert the three tables:
  *
  *   location (natural key: city/state/zip/address/lat/lon, surrogate id)
  *   hospital (natural PK hospital_pk, FK location_id)
  *   weekly_report (grain UNIQUE(hospital_pk, collection_week))
  *
  * Reference divergences, both deliberate (SURVEY.md §7.3.4-5):
  * - surrogate ids are deterministic hashes of the natural key, not
  *   SERIAL — stable across re-runs and cluster sizes;
  * - FK resolution is an explicit natural-key join, not the fragile
  *   positional zip of helper_load_hhs.py:139,154-156.
  * Re-running a load is a no-op (the ON CONFLICT DO NOTHING invariant).
  * The three inserts go through [[StoreInsert]]: only new rows are
  * written, and nothing is published unless all three tables staged. A
  * crash mid-publish leaves a subset of the new rows in the store
  * (parents before children); re-running the load completes it.
  */
object HhsLoad {

  val MetricCols: Seq[String] = Seq(
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg")

  /** Ingest schema — always explicit, never inferSchema (SURVEY §2.1 S1). */
  val rawSchema: StructType = StructType(
    Seq(
      StructField("hospital_pk", StringType),
      StructField("state", StringType),
      StructField("hospital_name", StringType),
      StructField("address", StringType),
      StructField("city", StringType),
      StructField("zip", StringType),
      StructField("fips_code", StringType),
      StructField("geocoded_hospital_address", StringType),
      StructField("collection_week", StringType)) ++
      MetricCols.map(c => StructField(c, DoubleType)))

  private val PointPat = "POINT \\((-?[0-9.]+) (-?[0-9.]+)\\)"

  /** Name-based projection of the (typically ~100-column-wide) HHS CSV.
    * An explicit schema on a header'd CSV maps columns by POSITION and
    * silently misreads wide files — so read all-string by header name,
    * select the 17 reference columns (helper_load_hhs.py:46-52), and cast
    * (try_cast: unparseable metric text → NULL, like pandas' NaN). */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame = {
    val all = spark.read.option("header", true).csv(csvPath)
    val projected = rawSchema.fields.map { f =>
      f.dataType match {
        case DoubleType => expr(s"try_cast(`${f.name}` AS DOUBLE)").as(f.name)
        case _ => col(f.name).cast(f.dataType).as(f.name)
      }
    }
    all.select(projected.toSeq: _*)
  }

  /** helper_load_hhs.py:31-69 — the whole prep_data transform. */
  def prepData(raw: DataFrame): DataFrame = {
    // sentinel -999999 → NULL; NaN → NULL (helper:55-58)
    val cleaned = MetricCols.foldLeft(raw) { (df, c) =>
      df.withColumn(c,
        when(col(c) === -999999.0 || isnan(col(c)), lit(null)).otherwise(col(c)))
    }
    // WKT destructure (helper:60-63): malformed/missing POINT → NULL lat/lon
    val geo = cleaned
      .withColumn("longitude",
        when(regexp_extract(col("geocoded_hospital_address"), PointPat, 1) === "", lit(null))
          .otherwise(regexp_extract(col("geocoded_hospital_address"), PointPat, 1).cast("double")))
      .withColumn("latitude",
        when(regexp_extract(col("geocoded_hospital_address"), PointPat, 2) === "", lit(null))
          .otherwise(regexp_extract(col("geocoded_hospital_address"), PointPat, 2).cast("double")))
      .drop("geocoded_hospital_address")
    // dedup by hospital_pk with deterministic survivor (helper:65 + §7.3.4)
    val deduped = Etl.dedupFirst(geo, Seq("hospital_pk"),
      Seq(col("collection_week").asc_nulls_last, col("hospital_name").asc_nulls_last))
    // date parse (helper:67)
    deduped.withColumn("collection_week", to_date(col("collection_week"), "yyyy-MM-dd"))
  }

  /** location natural key per nb cell 4's UNIQUE constraint. */
  private val LocKey = Seq("city", "state", "zip_code", "address", "latitude", "longitude")

  /** Natural-key → surrogate-id location rows (nb cell 4: fips_code rides
    * along, the six-column natural key is the identity). Because
    * location_id hashes only the natural key, a distinct over
    * (key, fips_code) could emit two rows with the same id when the same
    * address appears with different fips codes — dedup to exactly one row
    * per natural key (smallest fips survives, deterministically), which
    * is the UNIQUE-constraint invariant the reference enforces with
    * ON CONFLICT (nb cell 4). */
  def locationRows(prepped: DataFrame): DataFrame = {
    val candidates = prepped.withColumnRenamed("zip", "zip_code")
      .select((LocKey :+ "fips_code").map(col): _*).distinct()
    Etl.dedupFirst(candidates, LocKey, Seq(col("fips_code").asc_nulls_last))
      .withColumn("location_id", Etl.surrogateKey(LocKey.map(col): _*))
  }

  /** One load = three inserts-if-absent, mirroring load-hhs.py:21-28's
    * transaction; returns each table's total row count. */
  def load(spark: SparkSession, csvPath: String, storeDir: String): Map[String, Long] = {
    val raw = readRaw(spark, csvPath)
    val prepped = prepData(raw).materialized // one materialization, three consumers

    val location = locationRows(prepped)
    // rename the dim's key columns before joining — location derives from
    // prepped, and identical attribute ids would be ambiguous (null-safe
    // equality on the key: NULL lat/lon must still resolve). hospital
    // carries only (pk, name, location_id) per nb cell 7.
    val locJ = location.toDF(location.columns.map(c =>
      if (c == "location_id") c else s"__l_$c"): _*)
    val preppedK = prepped.withColumnRenamed("zip", "zip_code")
    // locationRows guarantees one row per natural key, so this join is
    // 1:1; the pk dedup is the UNIQUE(hospital_pk) safety net against a
    // future fan-out regression (same invariant the reference gets from
    // ON CONFLICT on the PK).
    val hospital = Etl.dedupFirst(
      preppedK
        .join(locJ, LocKey.map(k => preppedK(k) <=> col(s"__l_$k")).reduce(_ && _), "left")
        .select(preppedK("hospital_pk"), preppedK("hospital_name"), col("location_id")),
      Seq("hospital_pk"), Seq(col("location_id").asc_nulls_last))
    val weekly = prepped.select(
      col("hospital_pk").as("hospital_weekly_id") +: col("collection_week") +:
        MetricCols.map(col): _*)

    StoreInsert(storeDir, Seq(
      StoreInsert.Batch("location", location, Seq("location_id")),
      StoreInsert.Batch("hospital", hospital, Seq("hospital_pk")),
      StoreInsert.Batch("weekly_report", weekly, Seq("hospital_weekly_id", "collection_week"))))
  }
}
