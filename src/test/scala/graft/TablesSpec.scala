package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift hardening for the testdata loaders (Tables.scala).
  *
  * The driver regenerates `/root/testdata` between rounds and has shipped
  * `events.ts` as TIMESTAMP(NANOS) (→ long under the legacy flag), then as
  * µs TIMESTAMP_NTZ. These tests pin the contract: whatever the parquet
  * encoding — ns-long, µs-NTZ, µs-LTZ, or DATE — every declared temporal
  * column arrives downstream as session-TZ TimestampType with identical
  * values, and incompatible drift fails loud naming the column.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("tables-spec").toString

  /** One logical events table: 4 rows spanning a day boundary. */
  private val micros: Seq[(Long, Long, String)] = Seq(
    (1L, 1700000000000000L, "click"),
    (2L, 1700000030500000L, "view"),
    (3L, 1700086400000000L, "click"),
    (4L, 1700086400000001L, "purchase")
  )

  private def writeLtz(dir: String): Unit =
    micros.toDF("event_id", "us", "event_type")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeNtz(dir: String): Unit =
    micros.toDF("event_id", "us", "event_type")
      .withColumn("ts", timestamp_micros($"us").cast(TimestampNTZType)).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def writeNanosLong(dir: String): Unit =
    micros.toDF("event_id", "us", "event_type")
      .withColumn("ts", $"us" * 1000L).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def loadedMicros(dir: String): (DataType, Seq[(Long, Long)]) = {
    val df = Tables.events(spark, dir)
    (df.schema("ts").dataType,
      df.select($"event_id", unix_micros($"ts"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1))
  }

  test("events.ts normalizes to TimestampType with identical values under LTZ, NTZ, and ns-long encodings") {
    val expected = micros.map { case (id, us, _) => (id, us) }
    for ((write, label) <- Seq(
        (writeLtz _, "ltz"), (writeNtz _, "ntz"), (writeNanosLong _, "ns-long"))) {
      val dir = tmp()
      write(dir)
      val (dt, rows) = loadedMicros(dir)
      assert(dt === TimestampType, s"encoding=$label")
      assert(rows === expected, s"encoding=$label")
    }
  }

  test("queries over events behave identically across encodings (groupBy on derived day)") {
    def dayCounts(dir: String): Seq[(String, Long)] =
      Tables.events(spark, dir)
        .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
        .agg(count("*").as("n"))
        .as[(String, Long)].collect().toSeq.sorted
    val dirs = Seq(tmp(), tmp(), tmp())
    writeLtz(dirs(0)); writeNtz(dirs(1)); writeNanosLong(dirs(2))
    val base = dayCounts(dirs(0))
    assert(dayCounts(dirs(1)) === base)
    assert(dayCounts(dirs(2)) === base)
  }

  test("lineitem.l_shipdate and orders.o_orderdate normalize NTZ and DATE to TimestampType") {
    val dir = tmp()
    Seq((1L, "1995-03-15 00:00:00")).toDF("l_orderkey", "s")
      .withColumn("l_shipdate", $"s".cast(TimestampNTZType)).drop("s")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "1995-03-01")).toDF("o_orderkey", "s")
      .withColumn("o_orderdate", $"s".cast(DateType)).drop("s")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(Tables.lineitem(spark, dir).schema("l_shipdate").dataType === TimestampType)
    assert(Tables.orders(spark, dir).schema("o_orderdate").dataType === TimestampType)
    assert(Tables.orders(spark, dir).select(date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss"))
      .as[String].head() === "1995-03-01 00:00:00")
  }

  test("incompatible drift fails loud with table and column name") {
    val dir = tmp()
    Seq((1L, "not-a-timestamp")).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
  }

  test("dropped declared column fails loud") {
    val dir = tmp()
    Seq(Tuple1(1L)).toDF("event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events"))
  }

  test("within-class drift flows through: int32 keys, float value, double embedding elements") {
    val dir = tmp()
    Seq((1, 2, "view", 1.5f)).toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(lit(T0ish)))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.events(spark, dir).count() === 1)
    Seq((1, Array(0.5d, 1.0d), 3)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Tables.embeddings(spark, dir).count() === 1)
  }

  test("cross-class drift fails loud naming table, column, and arrived type") {
    val dir = tmp()
    Seq((1L, "oops", 2L)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalStateException](Tables.embeddings(spark, dir))
    assert(e.getMessage.contains("embeddings.embedding") && e.getMessage.contains("StringType"))
    Seq((1L, "abc")).toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e2 = intercept[IllegalStateException](Tables.documents(spark, dir))
    assert(e2.getMessage.contains("documents.n_chars"))
  }

  private val T0ish = 1700000000000000L
}
