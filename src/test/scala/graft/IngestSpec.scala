package graft

import graft.ingest.{HhsLoad, QualityLoad}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** Reference-parity load pipelines on reference-shaped CSVs carrying every
  * FIXTURES.md edge row: duplicate hospital_pk, -999999 sentinels,
  * malformed/missing POINT, 'Not Available'/out-of-range ratings,
  * mixed-case booleans — plus the idempotent-re-load invariant. */
class IngestSpec extends SparkSuite {
  import spark.implicits._

  private def writeCsv(dir: String, header: String, rows: Seq[String]): String = {
    val p = java.nio.file.Paths.get(dir, "data.csv")
    Files.writeString(p, (header +: rows).mkString("\n"))
    p.toString
  }

  private val hhsHeader = (Seq("hospital_pk", "state", "hospital_name", "address",
    "city", "zip", "fips_code", "geocoded_hospital_address", "collection_week") ++
    HhsLoad.MetricCols).mkString(",")

  private def hhsRow(pk: String, week: String, geo: String, beds: String): String =
    s"""$pk,PA,Hosp $pk,1 Main St,Pittsburgh,15213,42003,"$geo",$week,$beds,2,3,4,5,6,7,8"""

  private val week1 = Seq(
    hhsRow("A01", "2022-01-07", "POINT (-79.96 40.44)", "10"),
    hhsRow("A01", "2022-01-07", "POINT (-79.96 40.44)", "11"), // dup pk — D1
    hhsRow("B02", "2022-01-07", "POINT (-80.1 40.5)", "-999999"), // sentinel — P3
    hhsRow("C03", "2022-01-07", "not a point", "12"), // malformed geo — F1
    hhsRow("D04", "2022-01-07", "", ""))
  private val week2 = Seq(hhsRow("A01", "2022-01-14", "POINT (-79.96 40.44)", "13"))

  private def hhsCsv(rows: Seq[String]): String =
    writeCsv(Files.createTempDirectory("hhs-in").toString, hhsHeader, rows)

  test("HHS load: prep normalizes sentinels/POINT/dups; upserts hold grain; re-load is a no-op") {
    val store = Files.createTempDirectory("hhs-store").toString
    val csv = hhsCsv(week1)

    val counts1 = HhsLoad.load(spark, csv, store)
    assert(counts1("hospital") === 4) // dup pk collapsed
    assert(counts1("weekly_report") === 4)

    val weekly = spark.read.parquet(s"$store/weekly_report")
    // sentinel and empty metrics became NULL
    val bBeds = weekly.filter($"hospital_weekly_id" === "B02")
      .select(HhsLoad.MetricCols.head).as[Option[Double]].head()
    assert(bBeds.isEmpty)
    // dedup survivor is deterministic: first by (week, name) order → beds=10
    val aBeds = weekly.filter($"hospital_weekly_id" === "A01")
      .select(HhsLoad.MetricCols.head).as[Option[Double]].head()
    assert(aBeds === Some(10.0))

    val hospital = spark.read.parquet(s"$store/hospital")
    val location = spark.read.parquet(s"$store/location")
    // malformed POINT → NULL lat/lon location still created and resolvable
    assert(location.filter($"latitude".isNull).count() >= 1)
    // FK resolution: every hospital row carries a location_id present in location
    assert(hospital.join(location, Seq("location_id"), "left_anti").isEmpty)

    // idempotence: same file again — nothing changes
    val counts2 = HhsLoad.load(spark, csv, store)
    assert(counts2 === counts1)

    // new week arrives: weekly grows, hospital/location stay
    val counts3 = HhsLoad.load(spark, hhsCsv(week2), store)
    assert(counts3("weekly_report") === 5 && counts3("hospital") === 4)
    // grain UNIQUE(hospital, week) holds
    assert(spark.read.parquet(s"$store/weekly_report")
      .groupBy("hospital_weekly_id", "collection_week").count()
      .filter($"count" > 1).isEmpty)
  }

  /** Every data file of the store's tables, with its bytes. */
  private def dataFiles(store: String): Map[String, Seq[Byte]] =
    new File(store).listFiles().toSeq.filter(_.isDirectory).flatMap { t =>
      t.listFiles().toSeq.filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => s"${t.getName}/${f.getName}" -> Files.readAllBytes(f.toPath).toSeq)
    }.toMap

  private def tableOf(file: String): String = file.takeWhile(_ != '/')

  test("HHS load appends only new rows: old files untouched, no-op adds no file, failure publishes nothing") {
    val store = Files.createTempDirectory("hhs-append").toString
    HhsLoad.load(spark, hhsCsv(week1), store)
    val before = dataFiles(store)
    // week 2 adds one weekly_report row; its hospital and location exist
    val csv2 = hhsCsv(week2)
    HhsLoad.load(spark, csv2, store)
    val after = dataFiles(store)
    before.foreach { case (f, bytes) => assert(after.get(f).contains(bytes), s"$f rewritten") }
    assert((after.keySet -- before.keySet).map(tableOf) === Set("weekly_report"))
    HhsLoad.load(spark, csv2, store)
    assert(dataFiles(store).keySet === after.keySet)

    // an unreadable hospital file fails the load before anything publishes,
    // though location and weekly_report have new rows to stage
    Files.writeString(new File(s"$store/hospital/part-99999-planted.parquet").toPath, "not parquet")
    val planted = dataFiles(store)
    intercept[Exception](HhsLoad.load(spark,
      hhsCsv(Seq(hhsRow("E05", "2022-01-21", "POINT (-75.1 39.9)", "9"))), store))
    assert(dataFiles(store) === planted)
    assert(new File(store).list().sorted.toSeq === Seq("hospital", "location", "weekly_report"))
    Seq("hospital", "location", "weekly_report").foreach { t =>
      assert(!new File(s"$store/$t/_staging").exists(), s"$t/_staging left behind")
    }
  }

  test("a load's Spark jobs, from every thread it starts, carry the caller's job group") {
    val sc = spark.sparkContext
    val store = Files.createTempDirectory("hhs-group").toString
    val (csv1, csv2) = (hhsCsv(week1), hhsCsv(week2))
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def under[A](group: String)(body: => A): A = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      // two loads under two groups: worker threads kept from the first
      // load would carry its group into the second
      under("first-load")(HhsLoad.load(spark, csv1, store))
      under("second-load")(HhsLoad.load(spark, csv2, store))
      // one listener queue delivers in order: once the marker job is seen,
      // every job the loads started has been seen
      under("marker")(sc.parallelize(Seq(1)).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    val (first, rest) = seen.span(_ == "first-load")
    val (second, after) = rest.span(_ == "second-load")
    assert(first.size >= 3 && second.size >= 3 && after === Seq("marker"), seen)
  }

  test("HHS load projects wide CSVs by header name, not position") {
    val in = Files.createTempDirectory("hhs-wide").toString
    val store = Files.createTempDirectory("hhs-wide-store").toString
    // extra columns interleaved ahead of the reference ones
    val wideHeader = "extra_a," + hhsHeader.replaceFirst(",", ",extra_b,")
    val wideRow = "junk," +
      hhsRow("W01", "2022-01-07", "POINT (-79.9 40.4)", "42").replaceFirst(",", ",junk2,")
    val csv = writeCsv(in, wideHeader, Seq(wideRow))
    HhsLoad.load(spark, csv, store)
    val h = spark.read.parquet(s"$store/hospital")
    assert(h.select("hospital_pk").as[String].collect().toSeq === Seq("W01"))
    val beds = spark.read.parquet(s"$store/weekly_report")
      .select(HhsLoad.MetricCols.head).as[Option[Double]].head()
    assert(beds === Some(42.0))
  }

  private val qHeader = "Facility ID,Facility Name,City,State,ZIP Code," +
    "Hospital Ownership,Emergency Services,Hospital Type,Hospital overall rating"

  test("Quality load: V1 rating edges, V2 boolean edges, (facility,date) grain") {
    val in = Files.createTempDirectory("q-in").toString
    val store = Files.createTempDirectory("q-store").toString
    val csv = writeCsv(in, qHeader, Seq(
      """F1,Alpha,Pittsburgh,PA,15213,Private,Yes,Acute,3""",
      """F2,Beta,Pittsburgh,PA,15213,Private,YES,Acute,Not Available""",
      """F3,Gamma,Erie,PA,16501,Public,No,Acute,0""",
      """F4,Delta,Erie,PA,16501,Public,,Acute,6""",
      """F5,Eps,Erie,PA,16501,Public,yes ,Acute,3 """))
    val d1 = java.sql.Date.valueOf("2022-01-01")
    val counts = QualityLoad.load(spark, csv, d1, store)
    assert(counts("hospital") === 5 && counts("hospital_quality") === 5)

    val q = spark.read.parquet(s"$store/hospital_quality")
      .select($"facility_id", $"quality_rating").as[(String, Option[Int])]
      .collect().toMap
    assert(q("F1") === Some(3))
    assert(q("F2").isEmpty) // Not Available
    assert(q("F3").isEmpty) // 0 out of range
    assert(q("F4").isEmpty) // 6 out of range
    assert(q("F5") === Some(3)) // '3 ' trimmed

    // ownership/type/emergency live on the quality fact (nb cell 10)
    val h = spark.read.parquet(s"$store/hospital_quality")
      .select($"facility_id", $"provides_emergency_services").as[(String, Boolean)]
      .collect().toMap
    assert(h("F1") && h("F2") && h("F5")) // Yes / YES / 'yes ' (trimmed)
    assert(!h("F3") && !h("F4")) // No / empty → false

    // second batch at a later date: new fact rows, same hospitals
    val counts2 = QualityLoad.load(spark, csv, java.sql.Date.valueOf("2022-06-01"), store)
    assert(counts2("hospital") === 5 && counts2("hospital_quality") === 10)
    // re-load first date again → no change (ON CONFLICT DO NOTHING)
    val counts3 = QualityLoad.load(spark, csv, d1, store)
    assert(counts3("hospital_quality") === 10)
  }
}
