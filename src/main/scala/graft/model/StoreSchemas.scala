package graft.model

import graft.ingest.HhsLoad
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The reference DDL (Phase1_updated.ipynb cells 4/7/10/13) as Spark
  * schemas — the store's contract. SERIAL ids are 64-bit hash surrogates
  * here (SURVEY.md §1.2). */
object StoreSchemas {

  val location: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("zip_code", StringType),
    StructField("address", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("fips_code", StringType),
    StructField("location_id", LongType)))

  val hospital: StructType = StructType(Seq(
    StructField("hospital_pk", StringType),
    StructField("hospital_name", StringType),
    StructField("location_id", LongType)))

  val hospitalQuality: StructType = StructType(Seq(
    StructField("facility_id", StringType),
    StructField("quality_rating", IntegerType),
    StructField("rating_date", DateType),
    StructField("ownership", StringType),
    StructField("hospital_type", StringType),
    StructField("provides_emergency_services", BooleanType)))

  val weeklyReport: StructType = StructType(
    Seq(
      StructField("hospital_weekly_id", StringType),
      StructField("collection_week", DateType)) ++
      HhsLoad.MetricCols.map(c => StructField(c, DoubleType)))

  val byName: Map[String, StructType] = Map(
    "location" -> location,
    "hospital" -> hospital,
    "hospital_quality" -> hospitalQuality,
    "weekly_report" -> weeklyReport)

  /** Store table `name` under `storeDir`; a table the store lacks reads as
    * an empty table with its DDL schema, as in the reference, where
    * CREATE TABLE precedes every query. Existence is asked of the store's
    * Hadoop FileSystem, so URI stores (`file://…`) behave like paths. */
  def read(spark: SparkSession, storeDir: String, name: String): DataFrame = {
    val dir = new Path(storeDir, name)
    if (dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir))
      spark.read.parquet(dir.toString)
    else spark.createDataFrame(java.util.List.of[Row](), byName(name))
  }
}
