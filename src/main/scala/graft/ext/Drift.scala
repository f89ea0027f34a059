package graft.ext

import graft.{Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift statistics — the training/serving-skew screen an ML
  * pipeline runs before trusting a feature: are two cohorts drawn from
  * the same distribution? The two-sample Kolmogorov–Smirnov statistic is
  * the standard answer, and it is EXACTLY computable in integers:
  *
  *   D = max_v |F_A(v) − F_B(v)|
  *     = max_v |cumA(v)·n_B − cumB(v)·n_A| / (n_A·n_B)
  *
  * so the argmax and the scaled numerator are exact longs and the
  * reported double is ONE final division — no float CDFs, no epsilon
  * tolerance, bit-identical across engines (the x97 multiply-through
  * discipline). Cohorts here are the deterministic user-id parity split
  * (the canonical A/B hash split, x17's pattern): any real deployment
  * swaps in its own cohort predicate.
  *
  * Headroom: cum·n products are longs — safe while n_A·n_type < 2^63
  * (~3e9 rows per event type at this data's shape); past that, widen the
  * two products to decimal(18,0) as x95 does.
  *
  * Scale shape: one hash agg to the (type, value) grain — the only
  * full-data shuffle — then the cumulative scan is SEGMENTED exactly as
  * x92/x95: per-(type, value-bucket) windows in parallel plus a
  * bucket-offset prefix over the tiny bucket table, then a bounded
  * per-type argmax. Never a |types|-partition global sort.
  */
object Drift {

  /** Value-bucket granularity for the segmented cumulative scan: value
    * pennies >> 10 ≈ $10.24 buckets over this data's value range. */
  private val KsBktBits = 10

  /** x100: per-event-type two-sample KS drift between the even- and
    * odd-user cohorts — exact scaled statistic, argmax value, and the
    * one-division double. */
  val ksDrift = Q.withOracle(
    "x100_ks_drift",
    "x100: exact two-sample KS statistic per event type (even vs odd user cohort)",
    """WITH pts AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |    CAST(user_id % 2 AS BIGINT) AS b
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, v,
      |    CAST(SUM(1 - b) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
      |  FROM pts GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, v,
      |    SUM(ca) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    SUM(ca) OVER (PARTITION BY event_type) AS na,
      |    SUM(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM g),
      |d AS (
      |  SELECT event_type, v, na, nb,
      |    abs(cuma * nb - cumb * na) AS dnum,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY abs(cuma * nb - cumb * na) DESC, v) AS pick
      |  FROM c)
      |SELECT event_type,
      |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(dnum AS BIGINT) AS ks_scaled,
      |  CAST(v AS DOUBLE) / 100 AS at_value,
      |  CASE WHEN na > 0 AND nb > 0 THEN
      |    CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
      |  END AS ks
      |FROM d WHERE pick = 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
    // NULL values are excluded EXPLICITLY: a NULL sample has no place in
    // a CDF, and the engines disagree on NULL sort position (Spark first,
    // DuckDB last) — an unfiltered NULL would silently reorder the scan.
    val pts = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("v"),
        pmod(col("user_id"), lit(2)).cast("long").as("b"))
    val g = pts.groupBy(col("event_type"), col("v"))
      .agg(sum(lit(1L) - col("b")).cast("long").as("ca"),
        sum(col("b")).cast("long").as("cb"))
      .withColumn("bkt", expr(s"shiftright(v, $KsBktBits)"))
      .materialized // slim per-(type, value) counts; the prefix
                         // machinery reads it twice (offsets agg + window)
    // segmented cumulative counts + per-type totals via SegmentedRank's
    // shared core (in-bucket running sums + bucket-table prefix offsets,
    // totals riding the bounded offsets table)
    val c = SegmentedRank.withGroupedPrefix(
        g, Seq("event_type"), "bkt", Seq(col("v")),
        Seq((col("ca"), "cuma"), (col("cb"), "cumb")), inclusive = true,
        valueTotals = Seq(("cuma", "na"), ("cumb", "nb")))
      .select(col("event_type"), col("v"), col("na"), col("nb"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("dnum"))
    c.withColumn("pick", row_number()
        .over(Window.partitionBy(col("event_type"))
          .orderBy(col("dnum").desc, col("v"))))
      .filter(col("pick") === 1)
      .select(col("event_type"),
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        col("dnum").cast("long").as("ks_scaled"),
        (col("v").cast("double") / 100).as("at_value"),
        when(col("na") > 0 && col("nb") > 0,
          col("dnum").cast("double")
            / (col("na").cast("double") * col("nb").cast("double"))).as("ks"))
      .orderBy(col("event_type"))
  }

  /** x101: Simpson/Herfindahl diversity of the SOURCE mix per language —
    * "how concentrated is each language's corpus across sources", the
    * domain-mixture audit x39 rebalances against. The log-free diversity
    * index (Shannon entropy would bet the hash on libm parity; Simpson
    * ranks concentration identically):
    *
    *   HHI = Σ (c_i/n)²  =  Σ c_i² / n²      (exact integers)
    *   diversity = 1 − HHI = (n² − Σ c_i²) / n²
    *
    * Output carries the exact numerator/denominator longs AND the
    * one-division double. Two bounded hash aggs — (lang, source) counts,
    * then a per-lang fold; |langs|×|sources| intermediate rows.
    * Headroom: n_docs² in a long tolerates ~3e9 docs per language; past
    * that, widen the squares to decimal(18,0)² as x95 does. */
  val simpsonDiversity = Q.withOracle(
    "x101_simpson_diversity",
    "x101: Simpson diversity of the source mix per language (exact rational)",
    """WITH c AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1, 2),
      |a AS (
      |  SELECT lang,
      |    CAST(SUM(n) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_sources,
      |    CAST(SUM(n * n) AS BIGINT) AS sum_sq
      |  FROM c GROUP BY 1)
      |SELECT lang, n_docs, n_sources,
      |  CAST(n_docs * n_docs - sum_sq AS BIGINT) AS div_num,
      |  CASE WHEN n_docs > 0 THEN
      |    CAST(n_docs * n_docs - sum_sq AS DOUBLE)
      |      / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
      |  END AS diversity
      |FROM a ORDER BY lang""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    c.groupBy(col("lang"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_sources"),
        sum(col("n") * col("n")).cast("long").as("sum_sq"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        (col("n_docs") * col("n_docs") - col("sum_sq")).cast("long").as("div_num"),
        when(col("n_docs") > 0,
          (col("n_docs") * col("n_docs") - col("sum_sq")).cast("double")
            / (col("n_docs").cast("double") * col("n_docs").cast("double")))
          .as("diversity"))
      .orderBy(col("lang"))
  }

  /** x103: chi-squared independence test — "is market segment
    * independent of nation?", the categorical association screen next
    * to x100's continuous KS. The statistic over the FULL R×C grid
    * (unobserved cells contribute their expectation — skipping them
    * would bias the test):
    *
    *   χ² = Σ_cells (O·n − r·c)² / (n·r·c)
    *
    * Exactness: O·n and r·c are exact longs, their difference squares in
    * a double, and the per-cell division uses a double-product
    * denominator (n·r·c overflows a long at warehouse scale; three
    * exact-int casts multiplied in IEEE are deterministic). The SUM of
    * per-cell doubles is the one order-dependent step, so it runs as an
    * ORDERED FOLD over the (nation, segment)-sorted cell list — the x40
    * discipline — and Cramér's V adds one sqrt, which IEEE 754 requires
    * correctly rounded: bit-identical everywhere.
    *
    * Scale shape: one (seg, nat) hash agg over the data — everything
    * after runs on the R×C grid (≤ hundreds of rows: totals joins, the
    * grid cross join of two broadcast dimension-total tables, one
    * collected fold). Output is a single row. Headroom: the O·n and
    * r·c long products tolerate ~3e9 rows; past that, widen them to
    * decimal(18,0)² as x95 does. */
  val chi2Independence = Q.withOracle(
    "x103_chi2_independence",
    "x103: chi-squared independence of c_mktsegment x c_nationkey + Cramer's V",
    """WITH cells AS (
      |  SELECT c_mktsegment AS seg, c_nationkey AS nat,
      |    CAST(COUNT(*) AS BIGINT) AS o
      |  FROM customer GROUP BY 1, 2),
      |r AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |c AS (SELECT nat, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |grid AS (
      |  SELECT r.seg, c.nat, r.rt, c.ct, n.n, COALESCE(cells.o, 0) AS o
      |  FROM r CROSS JOIN c CROSS JOIN n
      |  LEFT JOIN cells ON cells.seg = r.seg AND cells.nat = c.nat),
      |t AS (
      |  SELECT seg, nat, n,
      |    CAST((o * n - rt * ct) AS DOUBLE) * CAST((o * n - rt * ct) AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
      |      AS term
      |  FROM grid),
      |f AS (
      |  SELECT MIN(n) AS n,
      |    CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT nat) AS BIGINT) AS n_cols,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(term ORDER BY nat, seg)), (a, x) -> a + x) AS chi2
      |  FROM t)
      |SELECT CAST(n AS BIGINT) AS n_customers, n_rows, n_cols,
      |  CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
      |  chi2,
      |  sqrt(chi2 / (CAST(n AS DOUBLE)
      |    * CAST(LEAST(n_rows - 1, n_cols - 1) AS DOUBLE))) AS cramers_v
      |FROM f""".stripMargin) { (s, dir) =>
    val cells = Tables.customer(s, dir)
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"))
      .agg(count(lit(1)).as("o"))
    val r = cells.groupBy(col("seg")).agg(sum(col("o")).as("rt"))
    val c = cells.groupBy(col("nat")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("n"))
    val grid = broadcast(r).crossJoin(broadcast(c)).crossJoin(broadcast(n))
      .join(cells, Seq("seg", "nat"), "left")
      .select(col("seg"), col("nat"), col("rt"), col("ct"), col("n"),
        coalesce(col("o"), lit(0L)).as("o"))
    val d = (col("o") * col("n") - col("rt") * col("ct")).cast("double")
    val t = grid.select(col("seg"), col("nat"), col("n"),
      (d * d / (col("n").cast("double") * col("rt").cast("double")
        * col("ct").cast("double"))).as("term"))
    // R/C as 1-row scalars (NOT countDistinct alongside collect_list —
    // that mix forces a SortAggregate fallback; each piece alone stays
    // in the hash/object-hash families, and all three run on grid-sized
    // inputs)
    val nr = r.agg(count(lit(1)).cast("long").as("n_rows"))
    val nc = c.agg(count(lit(1)).cast("long").as("n_cols"))
    t.agg(min(col("n")).as("n"),
        aggregate(
          array_sort(collect_list(struct(col("nat"), col("seg"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("chi2"))
      .crossJoin(broadcast(nr)).crossJoin(broadcast(nc))
      .select(col("n").cast("long").as("n_customers"),
        col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).cast("long").as("dof"),
        col("chi2"),
        sqrt(col("chi2") / (col("n").cast("double")
          * least(col("n_rows") - 1, col("n_cols") - 1).cast("double")))
          .as("cramers_v"))
  }

  /** x108: Mann–Whitney U rank-sum drift — the nonparametric companion
    * to x100's KS: "does cohort A's `value` distribution stochastically
    * dominate cohort B's?", per event type, over the same deterministic
    * even/odd user-id cohorts. Where KS reports the worst-case CDF gap,
    * U reports the probability P(a > b) + ½P(a = b) — the
    * common-language effect size ρ — which is the drift measure a
    * ranking/recommendation pipeline actually acts on.
    *
    * Exactness: mid-ranks under ties are half-integers, so everything is
    * carried DOUBLED and stays a long. For a tied group at value v with
    * `prev` observations below it and t = ca+cb members, each member's
    * doubled mid-rank is 2·prev + t + 1; cohort A's doubled rank-sum is
    *   R2_A = Σ_groups ca·(2·prev + t + 1)
    * and the doubled U statistic is U2_A = R2_A − n_A·(n_A+1). The
    * reported ρ = U2_A / (2·n_A·n_B) is ONE final division (x97/x100
    * multiply-through discipline) — bit-identical across engines. The
    * identity U_A + U_B = n_A·n_B pins the implementation in DriftSpec.
    *
    * Headroom: the per-group product ca·(2·prev+t+1) < 2n² — longs are
    * safe to ~2e9 rows per event type; past that widen the products to
    * decimal(18,0)×decimal(18,0) as x95 does.
    *
    * Scale shape: IDENTICAL to x100 — one hash agg to the (type, value)
    * grain (the only full-data shuffle), then the prev-count prefix runs
    * SEGMENTED per (type, value-bucket) with broadcast bucket offsets,
    * and the final fold is one bounded per-type agg. Never a
    * |types|-partition global sort. */
  val mannWhitney = Q.withOracle(
    "x108_mann_whitney",
    "x108: exact Mann-Whitney U rank-sum drift per event type (even vs odd user cohort)",
    """WITH pts AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
      |    CAST(user_id % 2 AS BIGINT) AS b
      |  FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT event_type, v,
      |    CAST(SUM(1 - b) AS BIGINT) AS ca, CAST(SUM(b) AS BIGINT) AS cb
      |  FROM pts GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, ca, cb, ca + cb AS t,
      |    CAST(COALESCE(SUM(ca + cb) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
      |  FROM g),
      |a AS (
      |  SELECT event_type,
      |    CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
      |    CAST(SUM(ca * (2 * prev + t + 1)) AS BIGINT) AS r2_a
      |  FROM c GROUP BY 1)
      |SELECT event_type, n_a, n_b, r2_a,
      |  CAST(r2_a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
      |  CASE WHEN n_a > 0 AND n_b > 0 THEN
      |    CAST(r2_a - n_a * (n_a + 1) AS DOUBLE)
      |      / (2 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
      |  END AS rho
      |FROM a ORDER BY event_type""".stripMargin) { (s, dir) =>
    // NULLs excluded explicitly on both sides — the x100 scan-order rule
    val pts = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("v"),
        pmod(col("user_id"), lit(2)).cast("long").as("b"))
    val g = pts.groupBy(col("event_type"), col("v"))
      .agg(sum(lit(1L) - col("b")).cast("long").as("ca"),
        sum(col("b")).cast("long").as("cb"))
      .withColumn("bkt", expr(s"shiftright(v, $KsBktBits)"))
      .materialized // slim per-(type, value) counts; the prefix
                         // machinery reads it twice (offsets agg + window)
    // segmented prev-count: the SegmentedRank prefix core with the
    // EXCLUSIVE frame (rows strictly before the current value group)
    SegmentedRank.withGroupedPrefix(
        g, Seq("event_type"), "bkt", Seq(col("v")),
        Seq((col("ca") + col("cb"), "prev")), inclusive = false)
      .select(col("event_type"), col("ca"), col("cb"),
        (col("ca") + col("cb")).as("t"), col("prev"))
      .groupBy(col("event_type"))
      .agg(sum(col("ca")).cast("long").as("n_a"),
        sum(col("cb")).cast("long").as("n_b"),
        sum(col("ca") * (lit(2L) * col("prev") + col("t") + 1))
          .cast("long").as("r2_a"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("r2_a"),
        (col("r2_a") - col("n_a") * (col("n_a") + 1)).cast("long").as("u2_a"),
        when(col("n_a") > 0 && col("n_b") > 0,
          (col("r2_a") - col("n_a") * (col("n_a") + 1)).cast("double")
            / (lit(2) * col("n_a").cast("double") * col("n_b").cast("double")))
          .as("rho"))
      .orderBy(col("event_type"))
  }

  /** x141: p-chart control limits — Shewhart attribute control for the
    * weekly return rate: p̄ ± 3·√(p̄(1−p̄)/n_w), the statistical-process-
    * control screen that says which weeks are SIGNAL rather than noise
    * (the prospective complement to x97's retrospective CUSUM).
    *
    * Exactness: counts are exact longs; p_w, p̄ are single divisions;
    * each limit is one sqrt and one multiply-add over identically-formed
    * doubles — bit-identical across engines; the out-of-control flag
    * compares those identical doubles. LCL clamps at 0 (attribute
    * charts). Scale shape: one hash agg to the weekly grain (the only
    * full-data shuffle), a 1-row pooled scalar broadcast back, flags
    * computed on the |weeks| axis. */
  val pChart = Q.withOracle(
    "x141_pchart_returns",
    "x141: weekly return-rate p-chart (3-sigma Shewhart limits, pooled p-bar)",
    """WITH wk AS MATERIALIZED (
      |  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS wk,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r
      |  FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(r) AS BIGINT) AS tr
      |  FROM wk),
      |calc AS (
      |  SELECT wk.wk, n, r,
      |    CAST(r AS DOUBLE) / n AS p,
      |    CAST(tr AS DOUBLE) / tn AS p_bar,
      |    3.0 * sqrt((CAST(tr AS DOUBLE) / tn)
      |      * (1.0 - CAST(tr AS DOUBLE) / tn) / n) AS margin
      |  FROM wk CROSS JOIN tot)
      |SELECT wk, n, r, p, p_bar,
      |  p_bar + margin AS ucl,
      |  GREATEST(0.0, p_bar - margin) AS lcl,
      |  CAST(CASE WHEN p > p_bar + margin
      |    OR p < GREATEST(0.0, p_bar - margin) THEN 1 ELSE 0 END
      |    AS BIGINT) AS out_of_control
      |FROM calc ORDER BY wk""".stripMargin) { (s, dir) =>
    val wk = Tables.lineitem(s, dir)
      .groupBy(graft.Parity.week(col("l_shipdate")).as("wk"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).cast("long")
          .as("r"))
    val tot = wk.agg(sum(col("n")).cast("long").as("tn"),
      sum(col("r")).cast("long").as("tr"))
    val pBar = col("tr").cast("double") / col("tn")
    val p = col("r").cast("double") / col("n")
    val margin = lit(3.0) * sqrt(pBar * (lit(1.0) - pBar) / col("n"))
    wk.crossJoin(broadcast(tot))
      .select(col("wk"), col("n"), col("r"), p.as("p"), pBar.as("p_bar"),
        (pBar + margin).as("ucl"),
        greatest(lit(0.0), pBar - margin).as("lcl"),
        when(p > pBar + margin
          || p < greatest(lit(0.0), pBar - margin), 1L).otherwise(0L)
          .as("out_of_control"))
      .orderBy(col("wk"))
  }

  /** x142: one-way ANOVA — the k-group generalization of the two-sample
    * battery (x100 KS, x108 Mann–Whitney): does mean order value differ
    * across the five order priorities? F = (SSB/(k−1)) / (SSW/(n−k)),
    * with η² = SSB/SST as the effect size.
    *
    * Exactness: values at $100 grain so Σy² stays far under 2^53 (the
    * DuckDB decimal→double cast is only trusted below it — x79's note;
    * headroom here ~1e9 orders). Per-group moments are exact integers.
    * The one float SUM the statistic needs — Σ_g s_g²/n_g across groups
    * — is order-dependent, so it is computed as an ORDERED sequential
    * fold over the priority-sorted group table: the `aggregate` HOF on
    * the Spark side, a WITH RECURSIVE walk in the oracle, identical
    * term formation (double(s_g)·double(s_g)/n_g) and identical add
    * order → bit-identical. Everything else is associative exact sums.
    *
    * Scale shape: ONE hash agg over orders to the 5-row group table;
    * the fold, totals, and final scalar algebra all run on k rows. */
  val anovaF = Q.withOracle(
    "x142_anova_priority",
    "x142: one-way ANOVA F of $100-grain order value across priorities (ordered-fold SSB)",
    """WITH RECURSIVE grp AS MATERIALIZED (
      |  SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS ng,
      |    CAST(SUM(CAST(FLOOR(o_totalprice / 100) AS BIGINT)) AS BIGINT) AS sg,
      |    CAST(SUM(CAST(FLOOR(o_totalprice / 100) AS DECIMAL(18,0))
      |      * CAST(FLOOR(o_totalprice / 100) AS DECIMAL(18,0))) AS BIGINT)
      |      AS syyg,
      |    CAST(ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS BIGINT) AS k
      |  FROM orders GROUP BY 1),
      |fold AS (
      |  SELECT k, CAST(0 AS DOUBLE)
      |    + (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) / ng AS sb
      |  FROM grp WHERE k = 1
      |  UNION ALL
      |  SELECT g2.k, f.sb
      |    + (CAST(g2.sg AS DOUBLE) * CAST(g2.sg AS DOUBLE)) / g2.ng
      |  FROM fold f JOIN grp g2 ON g2.k = f.k + 1),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS kk, CAST(SUM(ng) AS BIGINT) AS n,
      |    CAST(SUM(sg) AS BIGINT) AS s, CAST(SUM(syyg) AS BIGINT) AS syy
      |  FROM grp),
      |fin AS (SELECT sb FROM fold ORDER BY k DESC LIMIT 1),
      |m AS (
      |  SELECT kk, n,
      |    sb - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n AS ssb,
      |    CAST(syy AS DOUBLE) - sb AS ssw
      |  FROM fin CROSS JOIN tot)
      |SELECT kk AS k_groups, n AS n_orders, ssb, ssw,
      |  CASE WHEN kk > 1 AND n > kk AND ssw > 0.0
      |    THEN (ssb / (kk - 1)) / (ssw / (n - kk)) END AS f_stat,
      |  CASE WHEN ssb + ssw > 0.0 THEN ssb / (ssb + ssw) END AS eta2
      |FROM m""".stripMargin) { (s, dir) =>
    val y = floor(col("o_totalprice") / 100).cast("long")
    val yd = y.cast("decimal(18,0)")
    val grp = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("g"))
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(y).cast("long").as("sg"),
        sum(yd * yd).cast("long").as("syyg"))
    val fold = grp
      .agg(sort_array(collect_list(struct(col("g"), col("sg"), col("ng"))))
        .as("arr"))
      .select(expr(
        """aggregate(arr, CAST(0 AS DOUBLE),
          |  (acc, x) -> acc
          |    + (CAST(x.sg AS DOUBLE) * CAST(x.sg AS DOUBLE)) / x.ng)"""
          .stripMargin).as("sb"))
    val tot = grp.agg(count(lit(1)).cast("long").as("kk"),
      sum(col("ng")).cast("long").as("n"),
      sum(col("sg")).cast("long").as("s"),
      sum(col("syyg")).cast("long").as("syy"))
    val ssb = col("sb") - (col("s").cast("double") * col("s").cast("double")) / col("n")
    val ssw = col("syy").cast("double") - col("sb")
    fold.crossJoin(broadcast(tot))
      .select(col("kk"), col("n"), ssb.as("ssb"), ssw.as("ssw"))
      .select(col("kk").as("k_groups"), col("n").as("n_orders"),
        col("ssb"), col("ssw"),
        when(col("kk") > 1 && col("n") > col("kk") && col("ssw") > 0.0,
          (col("ssb") / (col("kk") - 1)) / (col("ssw") / (col("n") - col("kk"))))
          .as("f_stat"),
        when(col("ssb") + col("ssw") > 0.0,
          col("ssb") / (col("ssb") + col("ssw"))).as("eta2"))
  }

  val all: Seq[Q] =
    Seq(ksDrift, simpsonDiversity, chi2Independence, mannWhitney, pChart, anovaF)
}
