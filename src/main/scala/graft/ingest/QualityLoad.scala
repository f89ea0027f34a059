package graft.ingest

import graft.etl.Etl
import graft.model.StoreInsert
import graft.Parity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's CMS quality load (`load-quality.py`) as a Spark
  * pipeline: header-named field extraction, the V1 rating parse
  * ('Not Available' / non-digit / out-of-[1,5] → NULL, quality:158-174),
  * the V2 boolean parse (case-insensitive 'yes', NULL→false,
  * quality:177-189), and insert-if-absent upserts for hospital and the
  * (facility_id, rating_date) quality fact, through [[StoreInsert]]: only
  * new rows are written, and nothing is published unless both tables
  * staged. A crash mid-publish leaves a subset of the new rows in the
  * store (hospital before quality); re-running the load completes it.
  * The reference's 1,000-row micro-batching (quality:25,62-77)
  * disappears — Spark's partitioned execution is the batching.
  */
object QualityLoad {

  val rawSchema: StructType = StructType(Seq(
    StructField("Facility ID", StringType),
    StructField("Facility Name", StringType),
    StructField("City", StringType),
    StructField("State", StringType),
    StructField("ZIP Code", StringType),
    StructField("Hospital Ownership", StringType),
    StructField("Emergency Services", StringType),
    StructField("Hospital Type", StringType),
    StructField("Hospital overall rating", StringType)))

  /** quality:95-125 process_row, set-oriented. `ratingDate` is the CLI
    * date argument (quality:36-49). */
  def processBatch(raw: DataFrame, ratingDate: java.sql.Date): DataFrame = {
    val parsed = Parity.tryInt(trim(col("Hospital overall rating")))
    val rating = when(parsed.between(1, 5), parsed) // CHECK(1..5) → NULL outside
    raw.select(
      col("Facility ID").as("facility_id"),
      col("Facility Name").as("facility_name"),
      col("City").as("city"),
      col("State").as("state"),
      col("ZIP Code").as("zip_code"),
      col("Hospital Ownership").as("hospital_ownership"),
      coalesce(lower(trim(col("Emergency Services"))) === "yes", lit(false))
        .as("provides_emergency_services"),
      col("Hospital Type").as("hospital_type"),
      rating.as("quality_rating"),
      lit(ratingDate).as("rating_date"))
  }

  /** Name-based projection (the CMS CSV is wide; an explicit schema would
    * map positionally and misread it — see HhsLoad.readRaw). */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read.option("header", true).csv(csvPath)
      .select(rawSchema.fieldNames.map(col).toSeq: _*)

  /** One load: upsert hospitals (insert-if-absent on facility_id,
    * quality:139-147) and quality facts (on (facility_id, rating_date),
    * quality:149-155); returns each table's total row count. */
  def load(spark: SparkSession, csvPath: String, ratingDate: java.sql.Date,
      storeDir: String): Map[String, Long] = {
    val raw = readRaw(spark, csvPath)
    val batch = processBatch(raw, ratingDate)
      .localCheckpoint()

    def deduped(table: String, rows: DataFrame, keys: Seq[String]) = StoreInsert.Batch(table,
      Etl.dedupFirst(rows, keys, rows.columns.map(col(_).asc_nulls_last)), keys)

    // hospital insert resolves location via the D8 pick-first lookup on
    // (city, state, zip) against the shared location table, exactly
    // quality:141-145's correlated `ORDER BY id LIMIT 1` subquery
    val locDir = new java.io.File(s"$storeDir/location")
    val hospitalRows = {
      val base = batch.select(col("facility_id").as("hospital_pk"),
        col("facility_name").as("hospital_name"),
        col("city"), col("state"), col("zip_code"))
      val resolved = if (locDir.exists()) {
        val loc = spark.read.parquet(s"$storeDir/location")
          .select(col("city").as("__c"), col("state").as("__s"),
            col("zip_code").as("__z"), col("location_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("hospital_pk")).orderBy(col("location_id").asc_nulls_last)
        base.join(loc, col("city") <=> col("__c") && col("state") <=> col("__s") &&
            col("zip_code") <=> col("__z"), "left")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      } else base.withColumn("location_id", lit(null).cast("long"))
      resolved.select(col("hospital_pk"), col("hospital_name"), col("location_id"))
    }

    StoreInsert(storeDir, Seq(
      deduped("hospital", hospitalRows, Seq("hospital_pk")),
      deduped("hospital_quality",
        batch.select(col("facility_id"), col("quality_rating"), col("rating_date"),
          col("hospital_ownership").as("ownership"), col("hospital_type"),
          col("provides_emergency_services")),
        Seq("facility_id", "rating_date"))))
  }
}
