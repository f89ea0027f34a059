package graft.analytics

import graft.{Q, Tables}
import graft.Parity.{dec, dsum, sql, week}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal / reshaping operators beyond the reference's own surface:
  * as-of join, moving windows, pivot, and exact distribution stats —
  * the time-series half of a training-data pipeline (event attribution,
  * trend smoothing, per-class statistics).
  *
  * Scale design: the as-of join is the union+window form — ONE shuffle
  * on the join key, a linear scan per key partition, no range-join
  * explosion and no per-row subquery. The week-axis windows operate on
  * an already-aggregated axis (hundreds of rows at 100 TB, since the
  * axis is calendar weeks), so their single-partition window is by
  * construction small — the same deliberate choice as W1.
  */
object Temporal {

  /** x15: as-of join — for each purchase, the most recent view by the
    * same user at-or-before it (attribution). The scalable plan: tag
    * both sides, union, and take `last(ignoreNulls)` over a
    * (user, time) window — right-side rows sort before a left-side row
    * at the same timestamp, so the match is inclusive (ts_view <=
    * ts_purchase), exactly DuckDB's ASOF LEFT JOIN. One shuffle total;
    * compare a naive range join (quadratic per key) or per-row scalar
    * subquery (one scan per row). */
  val asof = Q.withOracle(
    "x15_asof_join",
    "as-of join (attribution): latest prior view per purchase, union+window plan",
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS tus, value
      |  FROM events WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id, p.tus AS purchase_tus,
      |  v.tus AS view_tus, v.value AS view_value
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.tus <= p.tus
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    asofPlan(Tables.events(s, dir).withColumn("tus", unix_micros(col("ts"))))
  }

  /** The as-of core over any (event_id, user_id, tus, event_type, value)
    * frame — split out so the NULL-value pairing contract is testable on
    * synthetic input (testdata has no NULL values at any SF). */
  def asofPlan(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        col("event_id").as("v_eid"),
        col("tus").as("v_tus"), col("value").as("v_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus"), lit(1).as("side"), col("event_id"),
        lit(null).cast("long").as("v_eid"),
        lit(null).cast("long").as("v_tus"), lit(null).cast("double").as("v_value"))
    // v_eid tie-break: two views sharing (user, tus) would otherwise make
    // last(...) partitioning-dependent (the Sessionize lesson). Testdata
    // has no such ties at any SF — DuckDB's ASOF picks an arbitrary tied
    // row, so determinism here is defensive, not oracle-visible.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("side"), col("v_eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The view's (tus, value) travel as ONE struct: a bare last(v_value)
    // would skip a view whose value is genuinely NULL and pair view_tus
    // with an older view's value. The when() guard keeps the struct
    // itself non-null for every view row (a naked struct() never is),
    // so both fields always come from the same matched row.
    views.unionByName(purchases)
      .withColumn("v",
        last(when(col("side") === 0, struct(col("v_tus"), col("v_value"))),
          ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("tus").as("purchase_tus"),
        col("v.v_tus").as("view_tus"), col("v.v_value").as("view_value"))
      .orderBy(col("event_id"))
  }

  /** x15b: FORWARD as-of join — for each purchase, the EARLIEST view by
    * the same user at-or-after it ("what did they look at next"), the
    * mirror of x15's attribution direction. Same union+window plan (one
    * key shuffle, linear per-partition scan): `first(ignoreNulls)` over
    * a [current, ∞) frame, with purchases sorting BEFORE equal-timestamp
    * views (side descending) so the ≥ match is inclusive — exactly
    * DuckDB's `ASOF LEFT JOIN ... ON v.tus >= p.tus`. */
  val asofForward = Q.withOracle(
    "x15b_asof_forward",
    "forward as-of join: earliest following view per purchase, union+window plan",
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS tus, value
      |  FROM events WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id, p.tus AS purchase_tus,
      |  v.tus AS view_tus, v.value AS view_value
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.tus >= p.tus
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).withColumn("tus", unix_micros(col("ts")))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"),
        col("event_id").as("v_eid"),
        col("tus").as("v_tus"), col("value").as("v_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tus"), lit(1).as("side"), col("event_id"),
        lit(null).cast("long").as("v_eid"),
        lit(null).cast("long").as("v_tus"), lit(null).cast("double").as("v_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("side").desc, col("v_eid"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    views.unionByName(purchases)
      .withColumn("v",
        first(when(col("side") === 0, struct(col("v_tus"), col("v_value"))),
          ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("tus").as("purchase_tus"),
        col("v.v_tus").as("view_tus"), col("v.v_value").as("view_value"))
      .orderBy(col("event_id"))
  }

  /** w3: 4-week moving average over the weekly quantity axis — windowed
    * exact-decimal sums divided once in double, so both engines emit
    * bit-identical values. The un-partitioned window is over the
    * *week axis* (already one row per week), deliberately tiny at any
    * data scale. */
  val movingAvg = Q.withOracle(
    "w3_moving_avg",
    "W3: 4-week moving average from exact windowed sums",
    s"""WITH weekly AS (
       |  SELECT ${sql.week("l_shipdate")} AS wk,
       |    SUM(${sql.dec("l_quantity")}) AS wsum, COUNT(*) AS n
       |  FROM lineitem GROUP BY 1)
       |SELECT wk,
       |  CAST(SUM(wsum) OVER w AS DOUBLE) / CAST(SUM(n) OVER w AS DOUBLE)
       |    AS avg_qty_4wk,
       |  CAST(SUM(n) OVER w AS BIGINT) AS n_lines_4wk
       |FROM weekly
       |WINDOW w AS (ORDER BY wk ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
       |ORDER BY wk""".stripMargin) { (s, dir) =>
    // long-penny buffers through both levels (the Parity.dsum pattern);
    // the windowed penny total widens back through decimal before the
    // final division, so the doubles match the oracle bit-for-bit
    val weekly = Tables.lineitem(s, dir)
      .groupBy(week(col("l_shipdate")).as("wk"))
      .agg(sum((dec(col("l_quantity")) * 100).cast("long")).as("wsum100"),
        count(lit(1)).as("n"))
    val w = Window.orderBy(col("wk")).rowsBetween(-3, Window.currentRow)
    weekly.select(col("wk"),
      ((sum(col("wsum100")).over(w).cast("decimal(38,0)") / 100).cast("double") /
        sum(col("n")).over(w).cast("double")).as("avg_qty_4wk"),
      sum(col("n")).over(w).as("n_lines_4wk"))
      .orderBy(col("wk"))
  }

  /** w5: trailing-30-DAY spend per customer — a RANGE frame over the
    * date axis, not a ROWS frame: the window is "orders in the last 30
    * days", however many rows that is, and same-day orders are peers that
    * always share a frame. Dates become integer day numbers so the range
    * arithmetic is engine-portable; the shuffle is one key partition on
    * the customer. */
  val trailingSpend = Q.withOracle(
    "w5_trailing_30d_spend",
    "W5: per-customer trailing 30-day spend (RANGE frame over day numbers)",
    s"""SELECT o_orderkey, o_custkey, o_orderdate,
       |  CAST(SUM(${sql.dec("o_totalprice")}) OVER (
       |    PARTITION BY o_custkey
       |    ORDER BY datediff('day', DATE '1990-01-01', o_orderdate)
       |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS spend_30d
       |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1990-01-01"))))
      .rangeBetween(-30, Window.currentRow)
    // decimal buffer kept here: per-customer RANGE frames are tiny, so
    // the long-penny buffer trick measures neutral (0.65s either way)
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      sum(dec(col("o_totalprice"))).over(w).cast("double").as("spend_30d"))
      .orderBy(col("o_orderkey"))
  }

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** a13: pivot — weekly × event_type value matrix. The pivot values are
    * declared explicitly, which matters twice: no extra distinct-scan job
    * to discover them, and a stable output schema (a new event type in
    * the data cannot silently widen the table mid-pipeline). */
  val pivot = Q.withOracle(
    "a13_pivot_week_type",
    "A13: pivot weekly sums per event_type (explicit pivot values)",
    s"""SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
       |${EventTypes.map(t =>
          s"  CAST(SUM(CASE WHEN event_type = '$t' THEN ${sql.dec("value")} END) AS DOUBLE) AS $t")
          .mkString(",\n")}
       |FROM events GROUP BY 1 ORDER BY wk""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(week(col("ts")).as("wk"))
      .pivot("event_type", EventTypes)
      .agg(dsum(col("value")))
      .orderBy(col("wk"))
  }

  /** a14: per-group mean and stddev from exact decimal sums — Σx and Σx²
    * are aggregated in decimal (order-independent across partitions and
    * AQE re-plans), then mean/variance come from one fixed double
    * expression evaluated identically by both engines. A naive
    * stddev_samp(double) would drift run-to-run at cluster scale, and
    * Welford vs textbook formulas differ in the last ulp between
    * engines. */
  val groupStats = Q.withOracle(
    "a14_group_stats",
    "A14: mean/stddev per event_type via exact decimal Σx, Σx²",
    s"""WITH agg AS (
       |  SELECT event_type, COUNT(*) AS n_events,
       |    CAST(SUM(${sql.dec("value")}) AS DOUBLE) AS s1,
       |    CAST(SUM(${sql.dec("value")} * ${sql.dec("value")}) AS DOUBLE) AS s2
       |  FROM events GROUP BY 1)
       |SELECT event_type, n_events,
       |  s1 / n_events AS mean_value,
       |  CASE WHEN n_events > 1 THEN
       |    SQRT(GREATEST(s2 - s1 * s1 / n_events, 0.0) / (n_events - 1))
       |  END AS sd_value
       |FROM agg ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("s1"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("s2"))
      .select(col("event_type"), col("n_events"),
        (col("s1") / col("n_events")).as("mean_value"),
        // n=1 guard: unguarded 0.0/0 is NaN in Spark but NULL in DuckDB
        when(col("n_events") > 1,
          sqrt(greatest(col("s2") - col("s1") * col("s1") / col("n_events"), lit(0.0)) /
            (col("n_events") - 1))).as("sd_value"))
      .orderBy(col("event_type"))
  }

  /** t6: per-key top-k through the custom TopKPerKey plan node
    * (graft.plans) — bounded per-key heaps before AND after one
    * key-shuffle of ≤ k·partitions rows per key, versus the window
    * form's full-data shuffle + per-group sort. The oracle is the
    * row_number window form, so this also proves the two agree. */
  val topkPerKey = Q.withOracle(
    "t6_topk_per_key",
    "T6: custom plan node — top-3 orders per priority, partial+final heaps",
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderpriority, o_orderkey, o_totalprice
      |FROM ranked WHERE rn <= 3
      |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    graft.plans.TopKPerKey
      .topKPerKey(o, Seq("o_orderpriority"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
  }

  private val HourUs = 3600L * 1000000L

  /** x20: interval (range) join — views within the hour before each
    * purchase, counted. A naive range join is a per-key nested loop
    * (BroadcastNestedLoopJoin or worse at scale); the scalable
    * re-expression buckets time into hour cells and turns the range
    * predicate into an equi-join on (user, bucket) — each purchase
    * probes its own cell and the one before, so every candidate pair
    * shares an equi-key and the residual range filter runs post-join.
    * Shuffle is hash-partitioned, skew-safe under AQE, and the plan has
    * no nested-loop operator (PlanAuditSpec enforces registry-wide). */
  val intervalCount = Q.withOracle(
    "x20_interval_count",
    "x20: bucketed range join — views in the hour before each purchase",
    """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS tus
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS tus
      |  FROM events WHERE event_type = 'view')
      |SELECT p.event_id, p.user_id, COUNT(v.tus) AS n_views_1h
      |FROM p LEFT JOIN v
      |  ON p.user_id = v.user_id
      |  AND v.tus BETWEEN p.tus - 3600000000 AND p.tus
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir).withColumn("tus", unix_micros(col("ts")))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("tus"))
      .withColumn("bucket",
        explode(array(floor(col("tus") / HourUs) - 1, floor(col("tus") / HourUs))))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus").as("vtus"),
        floor(col("tus") / HourUs).as("bucket"))
    p.join(v, Seq("user_id", "bucket"), "left")
      .withColumn("hit",
        col("vtus").isNotNull &&
          col("vtus") >= col("tus") - HourUs && col("vtus") <= col("tus"))
      .groupBy(col("event_id"), col("user_id"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_views_1h"))
      .orderBy(col("event_id"))
  }

  /** a19: unpivot/melt — the inverse reshape of a13, wide event-type
    * columns back to (wk, event_type, sum_value) long form. Spark's
    * native `unpivot` (codegen'd Expand) against a portable UNION ALL
    * oracle. NULL cells (week × type with no events) are dropped by
    * unpivot's contract; the oracle filters to match. */
  val unpivot = Q.withOracle(
    "a19_unpivot_week_type",
    "A19: unpivot the weekly × type matrix back to long form",
    s"""WITH piv AS (
       |  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
       |${EventTypes.map(t =>
          s"    CAST(SUM(CASE WHEN event_type = '$t' THEN ${sql.dec("value")} END) AS DOUBLE) AS $t")
          .mkString(",\n")}
       |  FROM events GROUP BY 1)
       |SELECT wk, event_type, sum_value FROM (
       |${EventTypes.map(t =>
          s"  SELECT wk, '$t' AS event_type, $t AS sum_value FROM piv")
          .mkString("\n  UNION ALL\n")}
       |) WHERE sum_value IS NOT NULL
       |ORDER BY wk, event_type""".stripMargin) { (s, dir) =>
    val piv = Tables.events(s, dir)
      .groupBy(week(col("ts")).as("wk"))
      .pivot("event_type", EventTypes)
      .agg(dsum(col("value")))
    piv.unpivot(Array(col("wk")), EventTypes.map(col).toArray, "event_type", "sum_value")
      .filter(col("sum_value").isNotNull)
      .orderBy(col("wk"), col("event_type"))
  }

  /** x94: interval union via gaps-and-islands — merge each supplier's
    * fulfillment windows ([shipdate, shipdate + ceil(qty) days), the
    * "days this line keeps the supplier busy" model) into maximal
    * overlapping islands, then report islands, covered days, and the
    * longest continuous stretch per supplier. The general interval-union
    * primitive that x13's session_window (fixed gap) and x20's bucketed
    * range join (pairwise counting) cannot express: interval LENGTHS
    * vary per row, and the answer is a coverage measure, not a match.
    *
    * Classic two-stacked-window form: cumulative MAX(end) over preceding
    * rows detects island starts (strict `>` so half-open touching
    * intervals merge), a running SUM of the start flags numbers the
    * islands, then two hash aggs fold islands → suppliers. All
    * arithmetic on epoch DAYS as BIGINT — no date type crosses the
    * engine boundary after the first cast.
    *
    * Scale shape: ONE shuffle (suppkey), both windows share that sort
    * (same partition + order key, so Spark plans a single sort with two
    * Window nodes), then bounded hash aggs and a top-20. A hot
    * supplier's timeline is one partition's linear scan — the same cost
    * any per-key timeline op pays, with no pairwise blowup (contrast a
    * self-join overlap test: quadratic in the hot key). */
  val intervalCoverage = Q.withOracle(
    "x94_interval_coverage",
    "x94: merge per-supplier fulfillment windows into islands; top-20 by covered days",
    """WITH iv AS (
      |  SELECT l_suppkey AS supp,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS s,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
      |      + CAST(CEIL(l_quantity) AS BIGINT) AS e,
      |    l_orderkey AS ok, l_linenumber AS ln
      |  FROM lineitem),
      |m AS (
      |  SELECT supp, s, e, ok, ln,
      |    MAX(e) OVER (PARTITION BY supp ORDER BY s, e, ok, ln
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |f AS (
      |  SELECT supp, s, e,
      |    SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY supp ORDER BY s, e, ok, ln
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM m),
      |i AS (
      |  SELECT supp, island, MIN(s) AS i_start, MAX(e) AS i_end
      |  FROM f GROUP BY 1, 2)
      |SELECT supp, COUNT(*) AS n_islands,
      |  CAST(SUM(i_end - i_start) AS BIGINT) AS covered_days,
      |  MAX(i_end - i_start) AS longest_days
      |FROM i GROUP BY supp
      |ORDER BY covered_days DESC, supp LIMIT 20""".stripMargin) { (s, dir) =>
    val iv = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("supp"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("s"),
        (datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
          .cast("long") + ceil(col("l_quantity"))).as("e"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    val ord = Window.partitionBy(col("supp"))
      .orderBy(col("s"), col("e"), col("ok"), col("ln"))
    val marked = iv
      .withColumn("pmax",
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
          .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked
      .groupBy(col("supp"), col("island"))
      .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
      .groupBy(col("supp"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_days"),
        max(col("i_end") - col("i_start")).as("longest_days"))
      .orderBy(col("covered_days").desc, col("supp")).limit(20)
  }

  /** x107: dwell time by state — for each event type, how long users SIT
    * in it before their next event of any type: the time-in-state /
    * stage-latency metric product analytics reads ("users linger 40s on
    * view before purchase"). LEAD over the per-user timeline gives each
    * event its successor timestamp; terminal events (no successor) are
    * counted but excluded from the mean — the x79 open-interval rule on
    * the events table.
    *
    * Exactness: dwells are exact long MICROSECONDS (no date rounding),
    * summed as longs, one final division — headroom 2^63 µs ≈ 292k
    * years of summed dwell per type. Ties (same user, same µs) order by
    * event_id, a total order both engines replay.
    *
    * Scale shape: one user-keyed window (the same shuffle any per-user
    * timeline op pays — never global), then a |types|-row hash agg. */
  val dwellTime = Q.withOracle(
    "x107_dwell_time",
    "x107: mean/max dwell microseconds per event type (LEAD per-user timeline)",
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(nxt) AS BIGINT) AS n_with_next,
      |  CAST(SUM(nxt - us) AS BIGINT) AS total_dwell_us,
      |  CAST(MAX(nxt - us) AS BIGINT) AS max_dwell_us,
      |  CASE WHEN COUNT(nxt) > 0 THEN
      |    CAST(SUM(nxt - us) AS DOUBLE) / COUNT(nxt) END AS mean_dwell_us
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    val nxt = lead(col("us"), 1).over(Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id")))
    val d = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("nxt", nxt)
    d.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        count(col("nxt")).cast("long").as("n_with_next"),
        sum(col("nxt") - col("us")).cast("long").as("total_dwell_us"),
        max(col("nxt") - col("us")).cast("long").as("max_dwell_us"))
      .select(col("event_type"), col("n_events"), col("n_with_next"),
        col("total_dwell_us"), col("max_dwell_us"),
        when(col("n_with_next") > 0,
          col("total_dwell_us").cast("double") / col("n_with_next"))
          .as("mean_dwell_us"))
      .orderBy(col("event_type"))
  }

  /** x121: distinct users per event type over a TRAILING 4-week window —
    * the sliding-distinct aggregate (rolling MAU/WAU) that naive window
    * functions cannot express: COUNT(DISTINCT) OVER a RANGE frame is
    * unsupported in Spark, and re-scanning 4 weeks per output week is
    * quadratic in window length.
    *
    * Scale shape — the standard exact rewrite: dedup once to the
    * (type, week, user) grain (one hash agg with map-side combine; this
    * is the only full-data shuffle), then each surviving triple
    * CONTRIBUTES itself to the ≤4 window-end weeks it falls inside (a
    * 4-way explode of week-grain rows — far smaller than raw events),
    * dedup again at (type, end-week, user) — a user active in several
    * weeks of one window counts once — and count. Every stage is a
    * keyed hash agg; window length enters as a small constant fan-out,
    * never a per-row rescan. Windows ending after the last data week
    * are clipped by a 1-row broadcast high-water mark, so every
    * reported window end is a week that exists. */
  val trailingDistinct = Q.withOracle(
    "x121_trailing_distinct_users",
    "x121: trailing-4-week distinct users per event type (explode-to-window-ends, no rescan)",
    """WITH wu AS MATERIALIZED (
      |  SELECT DISTINCT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
      |    user_id
      |  FROM events),
      |hw AS (SELECT MAX(wk) AS hw FROM wu),
      |tgt AS MATERIALIZED (
      |  SELECT DISTINCT event_type, wk + 7 * k AS end_wk, user_id
      |  FROM wu, LATERAL (SELECT unnest([0, 1, 2, 3]) AS k)
      |  WHERE wk + 7 * k <= (SELECT hw FROM hw))
      |SELECT event_type, end_wk,
      |  CAST(COUNT(*) AS BIGINT) AS distinct_users
      |FROM tgt GROUP BY 1, 2
      |ORDER BY event_type, end_wk""".stripMargin) { (s, dir) =>
    val wu = Tables.events(s, dir)
      .select(col("event_type"), week(col("ts")).as("wk"), col("user_id"))
      .distinct()
    val hw = wu.agg(max(col("wk")).as("hw"))
    val tgt = wu
      .withColumn("k", explode(array((0 to 3).map(lit): _*)))
      .select(col("event_type"), date_add(col("wk"), col("k") * 7).as("end_wk"),
        col("user_id"))
      .crossJoin(broadcast(hw)) // 1-row high-water scalar
      .filter(col("end_wk") <= col("hw"))
      .select(col("event_type"), col("end_wk"), col("user_id"))
      .distinct()
    tgt.groupBy(col("event_type"), col("end_wk"))
      .agg(count(lit(1)).as("distinct_users"))
      .orderBy(col("event_type"), col("end_wk"))
  }

  /** x127: peak concurrency per supplier — the maximum number of
    * simultaneously open fulfillment windows (x94's interval model:
    * [shipdate, shipdate + ceil(qty)) in epoch days) and the first day
    * that peak is reached. The staircase sweep: each interval emits a
    * +1 at its start and a −1 at its (exclusive) end, the running sum
    * over the per-supplier (day, delta) order is the live concurrency,
    * and its max is the peak — ends sort before starts on the same day
    * (delta asc), so an end-exclusive handoff never double-counts.
    * Where x94 asks "how much of the calendar is covered", x127 asks
    * "how hot does the hottest moment get" — capacity planning's
    * question. One explode to 2E events, one supplier-keyed sort
    * window (two frames share it), one hash agg, bounded top-20. */
  val peakConcurrency = Q.withOracle(
    "x127_peak_concurrency",
    "x127: peak simultaneous open intervals per supplier + first peak day (staircase sweep)",
    """WITH iv AS (
      |  SELECT l_suppkey AS supp,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS s,
      |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
      |      + CAST(CEIL(l_quantity) AS BIGINT) AS e,
      |    l_orderkey AS ok, l_linenumber AS ln
      |  FROM lineitem),
      |ev AS (
      |  SELECT supp, s AS t, CAST(1 AS BIGINT) AS d, ok, ln FROM iv
      |  UNION ALL
      |  SELECT supp, e AS t, CAST(-1 AS BIGINT) AS d, ok, ln FROM iv),
      |lv AS (
      |  SELECT supp, t,
      |    SUM(d) OVER (PARTITION BY supp ORDER BY t, d, ok, ln
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
      |  FROM ev),
      |r AS (
      |  SELECT supp, t, live,
      |    MAX(live) OVER (PARTITION BY supp) AS peak
      |  FROM lv)
      |SELECT supp, CAST(MAX(peak) AS BIGINT) AS peak,
      |  CAST(MIN(t) AS BIGINT) AS first_peak_day
      |FROM r WHERE live = peak
      |GROUP BY supp
      |ORDER BY peak DESC, supp LIMIT 20""".stripMargin) { (s, dir) =>
    val iv = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("supp"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("s"),
        (datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
          .cast("long") + ceil(col("l_quantity"))).as("e"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    val ev = iv.select(explode(array(
        struct(col("s").as("t"), lit(1L).as("d"), col("ok"), col("ln")),
        struct(col("e").as("t"), lit(-1L).as("d"), col("ok"), col("ln")))).as("x"),
        col("supp"))
      .select(col("supp"), col("x.t").as("t"), col("x.d").as("d"),
        col("x.ok").as("ok"), col("x.ln").as("ln"))
    val ord = Window.partitionBy(col("supp"))
      .orderBy(col("t"), col("d"), col("ok"), col("ln"))
    val r = ev
      .withColumn("live",
        sum(col("d")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("peak", max(col("live")).over(Window.partitionBy(col("supp"))))
    r.filter(col("live") === col("peak"))
      .groupBy(col("supp"))
      .agg(max(col("peak")).cast("long").as("peak"),
        min(col("t")).cast("long").as("first_peak_day"))
      .orderBy(col("peak").desc, col("supp"))
      .limit(20)
  }

  val all: Seq[Q] = Seq(asof, asofForward, movingAvg, trailingSpend, pivot, groupStats,
    topkPerKey, intervalCount, unpivot, intervalCoverage, dwellTime, trailingDistinct,
    peakConcurrency)
}
