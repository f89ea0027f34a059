package graft

import graft.analytics.HealthReport
import graft.ingest.{HhsLoad, QualityLoad}
import java.nio.file.Files

/** End-to-end reference parity: CSV drops → HhsLoad/QualityLoad store →
  * the 8 weekly-report queries, with hand-computed expectations on a
  * fixture small enough to check by eye. */
class HealthReportSpec extends SparkSuite {
  import spark.implicits._

  private val hhsHeader = (Seq("hospital_pk", "state", "hospital_name", "address",
    "city", "zip", "fips_code", "geocoded_hospital_address", "collection_week") ++
    HhsLoad.MetricCols).mkString(",")

  // beds: adult_beds, ped_beds, adult_occ, ped_occ, icu, icu_used, covid, covid_icu
  private def row(pk: String, name: String, state: String, week: String,
      beds: Seq[String]): String =
    (Seq(pk, state, name, s"$pk Street", s"City$state", "11111", "42",
      "\"POINT (-70.1 40.2)\"", week) ++ beds).mkString(",")

  private val qHeader = "Facility ID,Facility Name,City,State,ZIP Code," +
    "Hospital Ownership,Emergency Services,Hospital Type,Hospital overall rating"

  /** Runs the fixture's two HHS weeks and its CMS drop into `store`. */
  private def loadInto(store: String): String = {
    val in = Files.createTempDirectory("hr-in").toString
    val rows = Seq(
      row("H1", "Alpha", "PA", "2022-01-07", Seq("100", "20", "50", "10", "5", "2", "7", "1")),
      row("H2", "Beta", "PA", "2022-01-07", Seq("200", "0", "100", "0", "8", "4", "9", "2")),
      row("H3", "Gamma", "OH", "2022-01-07", Seq("50", "10", "25", "5", "2", "1", "3", "0")))
    val f1 = java.nio.file.Paths.get(in, "w1.csv")
    Files.writeString(f1, (hhsHeader +: rows).mkString("\n"))
    HhsLoad.load(spark, f1.toString, store)
    // week 2: H3 stops reporting; H1 has a NULL adult_occ (drops from a+b sums)
    val rows2 = Seq(
      row("H1", "Alpha", "PA", "2022-01-14", Seq("100", "20", "", "12", "5", "2", "6", "1")),
      row("H2", "Beta", "PA", "2022-01-14", Seq("200", "0", "120", "0", "8", "4", "8", "2")))
    val f2 = java.nio.file.Paths.get(in, "w2.csv")
    Files.writeString(f2, (hhsHeader +: rows2).mkString("\n"))
    HhsLoad.load(spark, f2.toString, store)

    val q = java.nio.file.Paths.get(in, "q.csv")
    Files.writeString(q, (qHeader +: Seq(
      "H1,Alpha,CityPA,PA,11111,Private,Yes,Acute,5",
      "H2,Beta,CityPA,PA,11111,Private,Yes,Acute,2",
      "H3,Gamma,CityOH,OH,11111,Public,No,Acute,Not Available")).mkString("\n"))
    QualityLoad.load(spark, q.toString, java.sql.Date.valueOf("2022-01-10"), store)
    store
  }

  private lazy val store: String = loadInto(Files.createTempDirectory("hr-store").toString)

  private lazy val report = new HealthReport(spark, store, java.sql.Date.valueOf("2022-01-14"))

  test("a file:// URI store reports like a path store and resolves new hospitals' locations") {
    val uriStore = loadInto(
      Files.createTempDirectory("hr-uri-store").toUri.toString.stripSuffix("/"))
    assert(uriStore.startsWith("file:/"))
    val viaUri = new HealthReport(spark, uriStore, java.sql.Date.valueOf("2022-01-14")).all
    assert(viaUri.keySet === report.all.keySet && viaUri.size === 8)
    report.all.foreach { case (name, viaPath) =>
      val expected = viaPath.collect().map(_.toString).sorted.toSeq
      assert(expected.nonEmpty, name)
      assert(viaUri(name).collect().map(_.toString).sorted.toSeq === expected, name)
    }
    // H4 is in no HHS file, so only QualityLoad's location lookup can
    // give it H3's (CityOH, OH, 11111) location
    val q = Files.createTempDirectory("hr-in").resolve("q4.csv")
    Files.writeString(q, Seq(qHeader, "H4,Delta,CityOH,OH,11111,Public,No,Acute,3").mkString("\n"))
    QualityLoad.load(spark, q.toString, java.sql.Date.valueOf("2022-01-10"), uriStore)
    val loc = spark.read.parquet(s"$uriStore/hospital")
      .filter($"hospital_pk".isin("H3", "H4"))
      .select($"hospital_pk", $"location_id").as[(String, Option[Long])].collect().toMap
    assert(loc("H4").isDefined && loc("H4") === loc("H3"), loc)
  }

  test("Q1 records summary: count, previous week, difference, week DESC") {
    val r = report.recordsPerWeek
      .select($"collection_week".cast("string"), $"hospital_count",
        $"previous_week_count", $"week_difference")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(r === Seq(("2022-01-14", 2L, 3L, -1L), ("2022-01-07", 3L, 0L, 3L)))
  }

  test("Q2 beds summary: the reference's five sums, week DESC") {
    val r = report.bedsSummary
      .select($"collection_week".cast("string"), $"total_adult_beds_available",
        $"total_covid_beds_used")
      .as[(String, Double, Double)].collect().toSeq
    assert(r === Seq(("2022-01-14", 300.0, 14.0), ("2022-01-07", 350.0, 19.0)))
  }

  test("Q3 beds_utilization: percent per latest rating at latest week, NULL propagation") {
    val r = report.qualityVsUsage
      .select($"quality_rating", $"percent_beds_in_use")
      .as[(Option[Int], Option[Double])].collect().toSeq
    // latest week: H1 (rating 5) has NULL adult_occ -> numerator NULL;
    // H2 (rating 2): 120*100/200 = 60.0
    assert(r === Seq((Some(2), Some(60.0)), (Some(5), None)))
  }

  test("Q4 weekly_beds_used: NULL-propagating total + covid per week") {
    val r = report.bedsUsedPerWeek
      .select($"collection_week".cast("string"), $"total_beds_used", $"covid_beds_used")
      .as[(String, Option[Double], Option[Double])].collect().toSeq
    assert(r === Seq(
      ("2022-01-07", Some(190.0), Some(19.0)),
      ("2022-01-14", Some(120.0), Some(14.0)))) // H1's NULL+12 row drops from total only
  }

  test("Q5 covid_cases_by_state: all weeks, per state") {
    val r = report.covidByState
      .select($"state", $"total_covid_cases").as[(String, Double)].collect().toSeq
    assert(r === Seq(("OH", 3.0), ("PA", 30.0)))
  }

  test("Q6 fewest open beds: SUM(a+p) minus SUM(ao+po), each NULL-propagating alone") {
    val r = report.fewestOpenBedsByState
      .select($"state", $"open_beds").as[(String, Option[Double])].collect().toSeq
    // latest week PA: available 120+200=320; occupied: H1 row drops (NULL
    // adult_occ), H2=120 -> open = 200 (NOT NULL - the two sums drop rows
    // independently, unlike a single combined sum)
    assert(r === Seq(("PA", Some(200.0))))
  }

  test("Q7 non-reporting: name/city/state + last week, H3 only") {
    val r = report.nonReporting
      .select($"hospital_name", $"city", $"state", $"last_reported_week".cast("string"))
      .as[(String, String, String, String)].collect().toSeq
    assert(r === Seq(("Gamma", "CityOH", "OH", "2022-01-07")))
  }

  test("Q8 utilization grid covers (week,state) with rounded pcts") {
    val r = report.utilizationByState
      .select($"collection_week".cast("string"), $"state", $"percent_utilization")
      .as[(String, String, Option[Double])].collect().toSet
    assert(r.contains(("2022-01-07", "OH", Some(50.0))))
    assert(r.contains(("2022-01-14", "PA", Some(37.5)))) // 120/320
  }
}
