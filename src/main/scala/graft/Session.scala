package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every main and the test suites share: local
  * master on `cores` threads, one shuffle partition per core, UTC session
  * time zone, AQE on, no UI, WARN logging, and parquet nanosecond
  * timestamps read as longs (events.parquet carries TIMESTAMP(NANOS),
  * which the Spark 4 reader rejects; `Tables.events` rescales them).
  *
  * Mains size their session with [[cores]]. Explain and the specs pin
  * 4, so PLANS.md and plan assertions keep one partition count
  * whatever the host. */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else the machine's core count. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The policy as a builder, for callers that add a static conf. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  def apply(cores: Int): SparkSession = builder(cores).getOrCreate()
}
