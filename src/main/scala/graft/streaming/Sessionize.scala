package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization over the events stream — gap-based sessions (new
  * session when a user is idle > SessionGapSec).
  *
  * Two equivalent implementations:
  * - batch: the classic window cumsum (lag → gap flag → running sum =
  *   session number), fully oracle-expressible;
  * - streaming: `flatMapGroupsWithState` with per-user state and event-
  *   time timeout — the custom-state extension point
  *   (KeyValueGroupedDataset) the reference never needed but a
  *   continuous pipeline does. State is one small record per active
  *   user, bounded by the timeout — not by history.
  */
object Sessionize {

  val SessionGapSec = 1800L

  /** x13: batch sessionization. Timestamps compared in exact epoch
    * micros on both engines (no ns/µs parquet ambiguity in the output). */
  val batchSessions = Q.withOracle(
    "x13_sessionize",
    "gap-based sessionization via window cumsum",
    s"""WITH flagged AS (
       |  SELECT user_id, epoch_us(ts) AS tus,
       |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |           > ${SessionGapSec * 1000000L} THEN 1
       |         WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |           IS NULL THEN 1
       |         ELSE 0 END AS new_session,
       |    event_id, value
       |  FROM events),
       |numbered AS (
       |  -- CAST: DuckDB SUM(int) yields HUGEINT (pandas float64) while Spark
       |  -- emits BIGINT — the driver's hash is dtype-sensitive. event_id
       |  -- tie-break keeps the cumsum deterministic under equal timestamps.
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
       |  FROM flagged)
       |SELECT user_id, session_no, COUNT(*) AS n_events,
       |  MIN(tus) AS start_us, MAX(tus) AS end_us,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
       |FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev").isNull || col("tus") - col("prev") > SessionGapSec * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(cum))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tus")).as("start_us"), max(col("tus")).as("end_us"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_no"))
  }

  // ---- streaming variant ----

  case class Event(user_id: Long, tus: Long, value: Double, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long, sum_value: Double)

  /** Per-user state transition: buffer the open session, emit it when the
    * gap exceeds SessionGapSec (or on event-time timeout). */
  def sessionFn(userId: Long, events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    val gapUs = SessionGapSec * 1000000L
    val sorted = events.toSeq.sortBy(_.tus)
    var out = List.empty[SessionOut]
    var cur = state.getOption
    if (sorted.isEmpty && state.hasTimedOut) {
      val closed = cur.map(s => SessionOut(userId, s.start, s.last, s.n, s.sum))
      state.remove()
      return closed.iterator
    }
    sorted.foreach { e =>
      cur match {
        case Some(s) if e.tus - s.last <= gapUs =>
          cur = Some(SessionState(s.start, e.tus, s.n + 1, s.sum + e.value))
        case Some(s) =>
          out ::= SessionOut(userId, s.start, s.last, s.n, s.sum)
          cur = Some(SessionState(e.tus, e.tus, 1, e.value))
        case None =>
          cur = Some(SessionState(e.tus, e.tus, 1, e.value))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // Clamp to just past the current watermark: an event older than
      // (watermark - gap) would otherwise compute a timeout below the
      // watermark, which setTimeoutTimestamp rejects (IllegalArgumentException)
      // and would kill the query.
      state.setTimeoutTimestamp(
        math.max(s.last / 1000 + SessionGapSec * 1000,
          state.getCurrentWatermarkMs() + 1))
    }
    out.reverse.iterator
  }

  /** Streaming sessionization over a feed (watermark bounds state). */
  def sessionStream(feed: DataFrame): Dataset[SessionOut] = {
    val spark = feed.sparkSession
    import spark.implicits._
    feed
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("value"), col("ts"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionFn)
  }

  /** x13b: the same gap sessions via Spark's NATIVE `session_window`
    * aggregation — the declarative form of x13's cumsum (and of the
    * streaming flatMapGroupsWithState): one groupBy, no window-function
    * pass, and in streaming mode the state store merges sessions for
    * free. Session MEMBERSHIP is exactly x13's `> gap` rule: session
    * windows are [start, last+gap) and an event landing exactly ON the
    * previous session's end MERGES into it (touching windows merge —
    * verified against the operator in SessionBoundarySpec; an earlier
    * `>=`-splits reading was wrong, and testdata's random µs spacing
    * could never expose it). The two queries differ only in the
    * reported end: end_us here = last event + gap, per the operator's
    * window-end definition, vs x13's last event. */
  val sessionWindowBatch = Q.withOracle(
    "x13b_session_window",
    "gap sessions via native session_window aggregation",
    s"""WITH flagged AS (
       |  SELECT user_id, epoch_us(ts) AS tus, value,
       |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
       |           > ${SessionGapSec * 1000000L} THEN 1
       |         ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
       |numbered AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY tus ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sno
       |  FROM flagged)
       |SELECT user_id, MIN(tus) AS start_us,
       |  CAST(MAX(tus) + ${SessionGapSec * 1000000L} AS BIGINT) AS end_us,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
       |FROM numbered GROUP BY user_id, sno
       |ORDER BY user_id, start_us""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapSec seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("start_us"))
  }

  val all: Seq[Q] = Seq(batchSessions, sessionWindowBatch)
}
