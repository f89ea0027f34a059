package graft.analytics

import graft.{Materialize, Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concentration / inequality statistics — "how skewed is the spend?" is
  * the question behind every revenue-at-risk and whale-detection report,
  * and its standard answer is the Gini coefficient over the per-entity
  * totals. On sorted values x_1 ≤ … ≤ x_n with ranks r_i:
  *
  *   G = (2·Σ r_i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)
  *
  * Oracle-exactness: spend is exact long PENNIES (the Parity pattern),
  * ranks are exact integers from a totally-ordered (spend, custkey)
  * tiebreak, and both Σ terms form their products as decimal(18,0) ×
  * decimal(18,0) — NOT decimal(38,0) × bigint, which DuckDB rejects
  * outright (its product width rule is w1+w2 capped at 38, so a 38-wide
  * operand can't multiply anything). 18×18 → 36/37 wide products, and
  * both engines widen the SUM buffer to 38 — exact to 10^36 per term.
  * The final Gini is one identical scalar double expression over exact
  * inputs in both engines (the x78 discipline). Decimal→double casts
  * here are scale-0 and < 2^53 at oracle scale, so they are exact, not
  * merely correctly rounded.
  *
  * Scale shape: the rank is NOT one window per segment (a handful of
  * segments = a handful of reducer partitions — the x92 first-cut trap).
  * Ranks are segmented: row_number within (segment, spend-bucket)
  * partitions in parallel, plus a bucket-count prefix window that runs
  * over the tiny bucket table only, then `rank = offset + local_rn`.
  * Bucket id `spend >> 16` is monotone in spend, so bucket-major order
  * IS spend order and the composed rank equals the global one. After
  * ranking: one hash agg of 3 decimals per segment.
  */
object Concentration {

  /** Spend-bucket granularity: pennies >> 16 ≈ $655 buckets — hundreds of
    * buckets over this data's spend range, thousands of customers each at
    * scale; both windows stay parallel (value windows per bucket, the
    * offset window over the bucket table alone). */
  private val BktBits = 16

  /** Per-customer penny spend, bucketed on the spend high bits — the
    * shared base frame for x95's ranks and x131's cumulative sums. */
  private def segSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg((sum(col("o_totalprice").cast("decimal(12,2)")) * 100)
        .cast("long").as("x"))
    spend
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("ck") === col("c_custkey"))
      .select(col("c_mktsegment").as("mktsegment"), col("x"), col("ck"))
      .withColumn("bkt", expr(s"shiftright(x, $BktBits)"))
      .materialized // slim per-customer frame; the rank/prefix
                         // machinery reads it twice (offsets agg + window)
  }

  /** Per-customer spend with the segmented exact in-segment rank
    * (ascending spend, custkey tiebreak) via [[graft.ext.SegmentedRank]]
    * — never a \|segments\|-partition global sort. Shared by x95 (Gini)
    * and x125 (exact quartiles). */
  private def rankedSpend(s: SparkSession, dir: String): DataFrame =
    graft.ext.SegmentedRank.withGroupedRank(
      segSpend(s, dir), Seq("mktsegment"), "bkt",
      Seq(col("x"), col("ck")), "rnk")

  val gini = Q.withOracle(
    "x95_gini_spend",
    "x95: Gini coefficient of per-customer spend by market segment (segmented ranks)",
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT c_mktsegment AS mktsegment, x,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY x, ck) AS rnk
      |  FROM spend JOIN customer ON ck = c_custkey),
      |a AS (
      |  SELECT mktsegment, COUNT(*) AS n_customers,
      |    SUM(CAST(x AS DECIMAL(18,0))) AS sx,
      |    SUM(CAST(rnk AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS srx
      |  FROM r GROUP BY 1)
      |SELECT mktsegment, n_customers, CAST(sx AS BIGINT) AS sum_spend,
      |  CASE WHEN sx > 0 THEN
      |    (2.0 * CAST(srx AS DOUBLE)
      |      - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
      |    / (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)) END AS gini
      |FROM a ORDER BY mktsegment""".stripMargin) { (s, dir) =>
    val a = rankedSpend(s, dir).groupBy(col("mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x").cast("decimal(18,0)")).as("sx"),
        sum(col("rnk").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("srx"))
    a.select(col("mktsegment"), col("n_customers"),
        col("sx").cast("long").as("sum_spend"),
        when(col("sx") > 0,
          (lit(2.0) * col("srx").cast("double")
            - (col("n_customers").cast("double") + 1.0) * col("sx").cast("double"))
          / (col("n_customers").cast("double") * col("sx").cast("double")))
          .as("gini"))
      .orderBy(col("mktsegment"))
  }

  /** x117: Spearman rank correlation between per-customer order
    * frequency and total spend — the standard monotone-association
    * check ("do customers who order more often also spend more?"),
    * robust to the heavy-tailed spend distribution a Pearson r would be
    * dominated by.
    *
    * Exactness: both ranks are exact permutations (unique (metric,
    * custkey) tiebreak — no ties, so the classic 1 − 6·Σd²/(n(n²−1))
    * closed form applies verbatim), Σd² forms its squares as
    * decimal(18,0) × decimal(18,0) (the x95 width rule), and rho is a
    * single identical double expression over exact BIGINT inputs in
    * both engines: int64→double casts are singly correctly rounded in
    * BOTH engines at any magnitude (the decimal→double two-rounding
    * trap does not apply to longs). Headroom: sum_d2 < n³ must fit
    * BIGINT ⇒ n ≲ 2.1e6 ranked entities; past that, emit (n, Σd²) as
    * decimal(38,0) and finish client-side.
    *
    * Scale shape: one orders hash agg, then each rank is the x111/x114
    * segmented composition (parallel in-bucket row_number + broadcast
    * bucket-offset join) — no global single-partition sort; the finale
    * is a 1-row keyless agg. */
  val spearman = Q.withOracle(
    "x117_spearman_freq_spend",
    "x117: Spearman rank correlation of per-customer order frequency vs spend (segmented exact ranks)",
    """WITH per AS (
      |  SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS mon
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY freq, ck) AS rf,
      |         ROW_NUMBER() OVER (ORDER BY mon, ck) AS rm
      |  FROM per),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(CAST(rf - rm AS DECIMAL(18,0)) * CAST(rf - rm AS DECIMAL(18,0)))
      |      AS BIGINT) AS sum_d2
      |  FROM r)
      |SELECT n_customers, sum_d2,
      |  CASE WHEN n_customers > 1 THEN
      |    1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
      |      / (CAST(n_customers AS DOUBLE)
      |         * (CAST(n_customers AS DOUBLE) * CAST(n_customers AS DOUBLE) - 1.0))
      |  END AS spearman_rho
      |FROM a ORDER BY n_customers""".stripMargin) { (s, dir) =>
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("freq"),
        (sum(col("o_totalprice").cast("decimal(12,2)")) * 100).cast("long").as("mon"))
    // freq has a tiny data-bounded domain (the segment IS the value);
    // spend segments at pennies >> 20 ≈ $10.5k buckets (the x114 grain)
    val ranked = Rfm.exactRanks(per,
      Seq((col("freq"), 0, "rf"), (col("mon"), 20, "rm")))
    val d = (col("rf") - col("rm")).cast("decimal(18,0)")
    val a = ranked.agg(
      count(lit(1)).as("n_customers"),
      sum(d * d).cast("long").as("sum_d2"))
    val nD = col("n_customers").cast("double")
    a.select(col("n_customers"), col("sum_d2"),
        when(col("n_customers") > 1,
          lit(1.0) - lit(6.0) * col("sum_d2").cast("double")
            / (nD * (nD * nD - 1.0)))
          .as("spearman_rho"))
      .orderBy(col("n_customers"))
  }

  /** Block width for x124's inversion decomposition. Work terms: the
    * two pair joins touch O(n·B) pairs, the block×bucket grid holds
    * (n/B)² cells — B balances them (B ≈ √n is optimal; at this data's
    * n the fixed 1024 keeps the registered query free of driver
    * actions while both terms stay tiny). Truly massive n (≥1e9 ranked
    * entities) graduates to the O(log n)-round merge formulation; the
    * decomposition here is the single-round form of the same idea. */
  private val KtB = 1024L

  /** x124: exact Kendall tau between the frequency and spend rankings —
    * the pair-concordance companion to x117's Spearman (τ weights every
    * discordant PAIR equally; ρ weights by rank displacement). With
    * both ranks exact tie-free permutations (unique (metric, custkey)
    * tiebreaks), τ-a applies: τ = 1 − 4·D / (n(n−1)) for D = the
    * number of inversions between the two rankings.
    *
    * Counting D exactly WITHOUT the quadratic all-pairs join is the
    * point: a √-decomposition on the rank grid. Block the rf axis and
    * bucket the rm axis at width [[KtB]]; then
    *   D = (within-rf-block pairs)        — equi-join on the block id,
    *       + (cross-block, same rm-bucket) — equi-join on the bucket id,
    *       + (cross-block, cross-bucket)   — NO pair join at all: from
    *         the (block, bucket) count grid, P = run-sum over earlier
    *         blocks (window per bucket), S = run-sum over later buckets
    *         (window per block, v desc), and the term is Σ grid·S.
    * Every pair join is keyed and O(n·B); the grid windows run over a
    * (n/B)² cell table. All counts are exact longs; τ is one shared
    * double expression. The DuckDB oracle states the NAIVE all-pairs
    * semantics — an independent formulation the decomposition must
    * reproduce bit-for-bit. */
  val kendall = Q.withOracle(
    "x124_kendall_tau",
    "x124: exact Kendall tau of frequency vs spend rankings (sqrt-decomposition inversion count)",
    """WITH per AS (
      |  SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS mon
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY freq, ck) AS rf,
      |         ROW_NUMBER() OVER (ORDER BY mon, ck) AS rm
      |  FROM per),
      |d AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS inversions
      |  FROM r a JOIN r b ON a.rf < b.rf AND a.rm > b.rm),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers FROM r)
      |SELECT n_customers, inversions,
      |  CASE WHEN n_customers > 1 THEN
      |    1.0 - 4.0 * CAST(inversions AS DOUBLE)
      |      / (CAST(n_customers AS DOUBLE) * (CAST(n_customers AS DOUBLE) - 1.0))
      |  END AS kendall_tau
      |FROM n, d ORDER BY n_customers""".stripMargin) { (s, dir) =>
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("freq"),
        (sum(col("o_totalprice").cast("decimal(12,2)")) * 100).cast("long").as("mon"))
    // ranked is checkpointed: it fans out to SIX consumers below (both
    // sides of two pair joins, the grid, the max-axis scalar, and n) —
    // without the cut each consumer re-derived the whole rank pipeline
    // (the pre-r16 plan held 64 parquet scans of orders)
    val ranked = Rfm.exactRanks(per,
      Seq((col("freq"), 0, "rf"), (col("mon"), 20, "rm")))
      .select(col("rf"), col("rm"))
      .withColumn("b", expr(s"(rf - 1) div $KtB"))
      .withColumn("v", expr(s"(rm - 1) div $KtB"))
      .materialized
    val l = ranked.select(col("b").as("b1"), col("v").as("v1"),
      col("rf").as("rf1"), col("rm").as("rm1"))
    val r = ranked.select(col("b").as("b2"), col("v").as("v2"),
      col("rf").as("rf2"), col("rm").as("rm2"))
    // term 1: same rf-block — keyed pair join, O(n·B)
    val within = l.join(r, col("b1") === col("b2")
        && col("rf1") < col("rf2") && col("rm1") > col("rm2"))
      .agg(count(lit(1)).as("d_within"))
    // term 2: earlier rf-block, same rm-bucket — keyed pair join, O(n·B)
    val crossSame = l.join(r, col("v1") === col("v2")
        && col("b1") < col("b2") && col("rm1") > col("rm2"))
      .agg(count(lit(1)).as("d_same_bucket"))
    // term 3: earlier block AND strictly larger bucket — pure grid math.
    // The prefix windows need FULL support (a missing (b, v) cell would
    // silently drop the earlier-block mass riding through it), so the
    // sparse count grid is densified over the block × bucket axes first
    // — (n/B)² cells, which at the balanced B ≈ √n operating point is
    // ~n rows: the linear-sized state of the decomposition, never a
    // pair join.
    val grid = ranked.groupBy(col("b"), col("v")).agg(count(lit(1)).as("c"))
    val mx = ranked.agg(max(col("b")).as("mb"), max(col("v")).as("mv"))
    val dense = mx.select(explode(sequence(lit(0L), col("mb"))).as("b"))
      .crossJoin(broadcast(mx.select(explode(sequence(lit(0L), col("mv"))).as("v"))))
      .join(grid, Seq("b", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wP = Window.partitionBy(col("v")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wS = Window.partitionBy(col("b")).orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val crossDiff = dense
      .withColumn("p", coalesce(sum(col("c")).over(wP), lit(0L)))
      .withColumn("s", coalesce(sum(col("p")).over(wS), lit(0L)))
      .agg(sum(col("c") * col("s")).cast("long").as("d_cross_bucket"))
    val n = ranked.agg(count(lit(1)).as("n_customers"))
    val nD = col("n_customers").cast("double")
    n.crossJoin(broadcast(within))
      .crossJoin(broadcast(crossSame))
      .crossJoin(broadcast(crossDiff))
      .select(col("n_customers"),
        (col("d_within") + col("d_same_bucket") + col("d_cross_bucket"))
          .as("inversions"),
        when(col("n_customers") > 1,
          lit(1.0) - lit(4.0)
            * (col("d_within") + col("d_same_bucket") + col("d_cross_bucket"))
              .cast("double")
            / (nD * (nD - 1.0)))
          .as("kendall_tau"))
      .orderBy(col("n_customers"))
  }

  /** x125: exact interpolated quartiles (percentile_cont semantics) of
    * per-customer spend by market segment — the distributed answer to
    * "give me the EXACT p25/p50/p75, not a sketch": with the segmented
    * rank in hand, quantile q needs only the two order statistics
    * flanking position (n−1)·q, so the whole computation after ranking
    * is a 6-rows-per-segment broadcast probe join — no global sort, no
    * sort-to-driver, no approximation (contrast x25b's KLL-style
    * sketch tier and x86's hash-sampled estimates, the approximate
    * members of this family).
    *
    * Exactness: position arithmetic runs in quarter-units — pos·4 =
    * (n−1)·qnum is an exact integer, lo = pos div 4, rem = pos mod 4 —
    * and the interpolated value 4·v_lo + rem·(v_hi − v_lo) is an exact
    * long in quarter-pennies; the only double is one final /4.0,
    * identical in both engines. The oracle replays the same rank
    * construction (a plain per-segment ROW_NUMBER — tiny at oracle
    * scale) rather than quantile_cont, whose float path is
    * engine-specific. */
  val quartiles = Q.withOracle(
    "x125_exact_quartiles",
    "x125: exact interpolated spend quartiles per segment (rank probe, no global sort)",
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT c_mktsegment AS mktsegment, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY x, ck)
      |      AS BIGINT) AS rnk
      |  FROM spend JOIN customer ON ck = c_custkey),
      |n AS (SELECT mktsegment, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY 1),
      |k AS (
      |  SELECT mktsegment, n, qnum,
      |    ((n - 1) * qnum) // 4 + 1 AS lo1,
      |    ((n - 1) * qnum) % 4 AS rem
      |  FROM n, LATERAL (SELECT unnest([1, 2, 3]) AS qnum)),
      |v AS (
      |  SELECT k.mktsegment, k.qnum,
      |    CAST(4 * lo.x + k.rem * (hi.x - lo.x) AS BIGINT) AS quarter_pennies
      |  FROM k
      |  JOIN r lo ON lo.mktsegment = k.mktsegment AND lo.rnk = k.lo1
      |  JOIN r hi ON hi.mktsegment = k.mktsegment
      |    AND hi.rnk = k.lo1 + CASE WHEN k.rem > 0 THEN 1 ELSE 0 END)
      |SELECT mktsegment, CAST(qnum AS BIGINT) AS qnum, quarter_pennies,
      |  CAST(quarter_pennies AS DOUBLE) / 4.0 AS value_pennies
      |FROM v ORDER BY mktsegment, qnum""".stripMargin) { (s, dir) =>
    // checkpointed: read three ways (per-segment counts + both rank-probe
    // join sides) — without the cut each consumer re-derived the whole
    // rank pipeline (the pre-r16 plan held 24 parquet scans)
    val ranked = Materialize(rankedSpend(s, dir).select(col("mktsegment"), col("x"), col("rnk")))
    val n = ranked.groupBy(col("mktsegment")).agg(count(lit(1)).as("n"))
    val k = n
      .withColumn("qnum", explode(array(lit(1L), lit(2L), lit(3L))))
      .withColumn("lo1", expr("((n - 1) * qnum) div 4 + 1"))
      .withColumn("rem", expr("((n - 1) * qnum) % 4"))
      .withColumn("hi1", col("lo1") + when(col("rem") > 0, 1L).otherwise(0L))
    val v = broadcast(k)
      .join(ranked.select(col("mktsegment"), col("rnk").as("lo1"), col("x").as("xlo")),
        Seq("mktsegment", "lo1"))
      .join(ranked.select(col("mktsegment"), col("rnk").as("hi1"), col("x").as("xhi")),
        Seq("mktsegment", "hi1"))
      .withColumn("quarter_pennies",
        (lit(4L) * col("xlo") + col("rem") * (col("xhi") - col("xlo"))).cast("long"))
    v.select(col("mktsegment"), col("qnum"), col("quarter_pennies"),
        (col("quarter_pennies").cast("double") / 4.0).as("value_pennies"))
      .orderBy(col("mktsegment"), col("qnum"))
  }

  /** x126: Herfindahl–Hirschman concentration index per market segment —
    * Σ share_i² over per-customer spend shares, the antitrust-style
    * "how monopolized is this segment?" companion to x95's Gini (HHI
    * weights the TOP of the distribution quadratically; Gini weights
    * rank displacement). Also reports 1/HHI, the effective number of
    * equal players.
    *
    * Exactness: spend is truncated to exact dollar longs (pennies div
    * 100 — identical truncation in both engines), Σx² forms its squares
    * as decimal(18,0) × decimal(18,0) (the x95 width rule), and the
    * final HHI = Σx² / (Σx)² casts the exact integers to double and
    * performs two IEEE ops — identical in both engines while
    * Σx² < 2^53 (dollar grain buys 10⁴ headroom over pennies; here
    * Σx² ≈ 1e14 at sf0.1, documented ceiling ~9e15). Scale shape: one
    * orders hash agg + one broadcast dim join + one segment hash agg —
    * no ranks, no windows. */
  val hhi = Q.withOracle(
    "x126_hhi_spend",
    "x126: Herfindahl-Hirschman spend concentration per segment (exact dollar-grain shares)",
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) // 100 AS x
      |  FROM orders GROUP BY 1),
      |a AS (
      |  SELECT c_mktsegment AS mktsegment,
      |    CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(x) AS BIGINT) AS sum_dollars,
      |    CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
      |      AS BIGINT) AS sum_sq
      |  FROM spend JOIN customer ON ck = c_custkey
      |  GROUP BY 1)
      |SELECT mktsegment, n_customers, sum_dollars,
      |  CASE WHEN sum_dollars > 0 THEN
      |    CAST(sum_sq AS DOUBLE)
      |      / (CAST(sum_dollars AS DOUBLE) * CAST(sum_dollars AS DOUBLE)) END AS hhi,
      |  CASE WHEN sum_sq > 0 THEN
      |    (CAST(sum_dollars AS DOUBLE) * CAST(sum_dollars AS DOUBLE))
      |      / CAST(sum_sq AS DOUBLE) END AS effective_n
      |FROM a ORDER BY mktsegment""".stripMargin) { (s, dir) =>
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(expr(
        "cast(sum(cast(o_totalprice as decimal(12,2))) * 100 as bigint) div 100")
        .as("x"))
    val a = spend
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
        col("ck") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).cast("long").as("sum_dollars"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .cast("long").as("sum_sq"))
    val sd = col("sum_dollars").cast("double")
    a.select(col("mktsegment"), col("n_customers"), col("sum_dollars"),
        when(col("sum_dollars") > 0, col("sum_sq").cast("double") / (sd * sd))
          .as("hhi"),
        when(col("sum_sq") > 0, (sd * sd) / col("sum_sq").cast("double"))
          .as("effective_n"))
      .orderBy(col("mktsegment"))
  }

  /** x131: ABC (Pareto) classification — partition each segment's
    * customers into the classic inventory-control classes by cumulative
    * revenue from the top: A while the revenue accumulated BEFORE a
    * customer is under 80% of the segment total, B until 95%, C after —
    * "which 20% of customers carry 80% of revenue, exactly?".
    *
    * The cumulative-from-top is derived WITHOUT a descending pass:
    * with the ascending segmented rank's inclusive running sum c(i)
    * (in-bucket running sum + bucket-prefix offsets — the x95 rank
    * trick applied to sums), the exclusive top-down cumulative is just
    * T − c(i). Class boundaries compare exact scaled integers
    * (100·(T−c) vs 80·T / 95·T — pennies × 100 stays far under 2^63),
    * so classification is bit-deterministic; shares are one double
    * division per output row. Output is ≤ segments × 3 rows. */
  val abcClasses = Q.withOracle(
    "x131_abc_classes",
    "x131: ABC/Pareto revenue classes per segment (exact cumulative boundaries, no desc sort)",
    """WITH spend AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT c_mktsegment AS mktsegment, x, ck,
      |    CAST(SUM(x) OVER (PARTITION BY c_mktsegment ORDER BY x, ck
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
      |  FROM spend JOIN customer ON ck = c_custkey),
      |t AS (SELECT mktsegment, CAST(SUM(x) AS BIGINT) AS total FROM r GROUP BY 1),
      |k AS (
      |  SELECT r.mktsegment, x,
      |    CASE WHEN 100 * (total - c) < 80 * total THEN 'A'
      |         WHEN 100 * (total - c) < 95 * total THEN 'B'
      |         ELSE 'C' END AS abc_class,
      |    total
      |  FROM r JOIN t ON r.mktsegment = t.mktsegment)
      |SELECT mktsegment, abc_class,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(x) AS BIGINT) AS revenue_cents,
      |  CAST(SUM(x) AS DOUBLE) / CAST(MAX(total) AS DOUBLE) AS revenue_share
      |FROM k GROUP BY 1, 2 ORDER BY mktsegment, abc_class""".stripMargin) { (s, dir) =>
    // segmented inclusive running sum of x (the rank machinery with
    // SUM(x) in place of COUNT) + the per-segment total riding the same
    // bounded offsets table — one shuffle, one broadcast join, no rank
    val withCum = graft.ext.SegmentedRank.withGroupedPrefix(
      segSpend(s, dir), Seq("mktsegment"), "bkt",
      Seq(col("x"), col("ck")), Seq((col("x"), "c")), inclusive = true,
      valueTotals = Seq(("c", "total")))
    withCum
      .withColumn("abc_class",
        when(lit(100L) * (col("total") - col("c")) < lit(80L) * col("total"), "A")
          .when(lit(100L) * (col("total") - col("c")) < lit(95L) * col("total"), "B")
          .otherwise("C"))
      .groupBy(col("mktsegment"), col("abc_class"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).cast("long").as("revenue_cents"),
        (sum(col("x")).cast("double") / max(col("total")).cast("double"))
          .as("revenue_share"))
      .orderBy(col("mktsegment"), col("abc_class"))
  }

  val all: Seq[Q] = Seq(gini, spearman, kendall, quartiles, hhi, abcClasses)
}
