package graft

import graft.ext.Profile
import java.sql.Timestamp

/** x56 column profiling: the oracle pins the values on the real table;
  * this pins the semantics that matter on CRAFTED data — null
  * accounting (n vs n_null vs n_distinct), typed min/max routing
  * (numeric vs lexicographic vs timestamp-as-micros), and the one-scan
  * claim (a single Exchange in the plan). */
class ProfileSpec extends SparkSuite {
  import spark.implicits._

  private def crafted(dir: String): Unit = {
    Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10L, "b_type", 2.5, "pX"),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"), 10L, "a_type", -1.0, null),
      (3L, Timestamp.valueOf("2024-01-03 00:00:00"), 20L, "a_type", 2.5, null))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("null accounting and typed min/max on crafted rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prof").toString
    crafted(dir)
    val rows = Profile.profileEvents.fn(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val props = rows("props")
    assert(props.getLong(1) === 3 && props.getLong(2) === 2 && props.getLong(3) === 1)
    assert(props.getString(6) === "pX" && props.getString(7) === "pX")
    val et = rows("event_type")
    assert(et.getLong(2) === 0 && et.getLong(3) === 2)
    assert(et.getString(6) === "a_type" && et.getString(7) === "b_type")
    val v = rows("value")
    assert(v.getDouble(4) === -1.0 && v.getDouble(5) === 2.5 && v.getLong(3) === 2)
    val ts = rows("ts")
    // min ts as exact epoch micros (instant-based: TZ-independent)
    val expected = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000.0
    assert(ts.getDouble(4) === expected && ts.getLong(3) === 3)
    assert(rows("user_id").getLong(3) === 2)
  }

  test("one scan: the profile reads the table exactly once") {
    val df = Profile.profileEvents.fn(spark, sf)
    df.collect()
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size === 1,
      s"profile must be one pass over the files, got ${scans.size} scans")
  }
}
