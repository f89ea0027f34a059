package graft.etl

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Declarative data-quality audits over the star schema — the two test
  * classes the reference enforces with Postgres constraints (`nb` DDL:
  * FK clauses, NOT NULL) that a lake table cannot enforce at write
  * time and must therefore CHECK after load: referential integrity and
  * freshness. Together with d6 (grain), x56 (profile), and v1/v2
  * (parses) this completes the standard test battery a pipeline runs
  * per load.
  *
  * Scale shape: each relation audit is one LEFT ANTI join on the FK —
  * child-side shuffle only, parent sides are dims (nation/region
  * broadcast; orders/customer co-partition) — and the output is one
  * bounded row per declared relation. Freshness is one max + one
  * filtered count per key at |event types| grain.
  */
object Audit {

  /** Declared FK relations: child table, FK column, parent table, PK. */
  private val Relations: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))

  private def orphanOracle: String =
    Relations.map { case (c, fk, p, pk) =>
      s"""SELECT '$c.$fk -> $p.$pk' AS relation,
         |  CAST(COUNT(*) AS BIGINT) AS n_orphan_rows,
         |  CAST(COUNT(DISTINCT c.$fk) AS BIGINT) AS n_orphan_keys
         |FROM $c c LEFT JOIN $p p ON c.$fk = p.$pk
         |WHERE p.$pk IS NULL""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY relation"

  /** x76: referential-integrity audit — orphaned child rows/keys per
    * declared FK relation (zero on healthy data; the row EXISTS either
    * way, so a regression reads as a value change, not a missing row). */
  val fkOrphans = Q.withOracle(
    "x76_fk_orphans",
    s"x76: orphan counts for ${Relations.size} declared FK relations",
    orphanOracle) { (s, dir) =>
    Relations.map { case (c, fk, p, pk) =>
      val child = Tables.table(s, dir, c).select(col(fk))
      val parent = Tables.table(s, dir, p).select(col(pk))
      child.join(parent, col(fk) === col(pk), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_orphan_rows"),
          countDistinct(col(fk)).cast("long").as("n_orphan_keys"))
        .select(lit(s"$c.$fk -> $p.$pk").as("relation"),
          col("n_orphan_rows"), col("n_orphan_keys"))
    }.reduce(_ unionByName _).orderBy(col("relation"))
  }

  /** Freshness window (µs): events older than this against the global
    * high-water mark count as stale. */
  private val FreshUs = 7L * 86400000000L

  private def freshnessOracle: String =
    s"""WITH hw AS MATERIALIZED (SELECT MAX(epoch_us(ts)) AS hi FROM events)
       |SELECT e.event_type,
       |  CAST(MAX(epoch_us(e.ts)) AS BIGINT) AS last_us,
       |  CAST(hw.hi - MAX(epoch_us(e.ts)) AS BIGINT) AS lag_us,
       |  CAST(COUNT(*) FILTER (
       |    WHERE epoch_us(e.ts) > hw.hi - $FreshUs) AS BIGINT) AS n_fresh
       |FROM events e CROSS JOIN hw
       |GROUP BY e.event_type, hw.hi ORDER BY e.event_type""".stripMargin

  /** x77: freshness audit — per-key last-event time, lag behind the
    * global high-water mark, and the count inside the trailing window
    * (a silent feed shows up as a growing lag before anything breaks). */
  val freshness = Q.withOracle(
    "x77_freshness",
    "x77: per-event-type freshness lag vs the global high-water mark",
    freshnessOracle) { (s, dir) =>
    val ev = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val hw = ev.agg(max(col("us")).as("hi"))
    ev.crossJoin(broadcast(hw)) // 1-row high-water scalar
      .groupBy(col("event_type"), col("hi"))
      .agg(max(col("us")).as("last_us"),
        sum(when(col("us") > col("hi") - FreshUs, 1L).otherwise(0L))
          .cast("long").as("n_fresh"))
      .select(col("event_type"), col("last_us"),
        (col("hi") - col("last_us")).as("lag_us"), col("n_fresh"))
      .orderBy(col("event_type"))
  }

  /** Benford P(leading digit = d) = log10(1 + 1/d), pre-computed as
    * literals so BOTH engines compare against the identical doubles —
    * computing log10 at query time would bet the hash compare on two
    * libm implementations agreeing. */
  private val BenfordP: Map[Int, Double] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap

  /** A double as the exact dyadic rational `m / 2^k` in SQL — decimal
    * literals are NOT safe to embed: DuckDB 1.0 parses the shortest
    * round-trip string of log10(4/3) one ulp off Java's value
    * (measured: ...92 vs ...93). m ≤ 2^53 casts to DOUBLE exactly, the
    * power-of-two divisor is exact, and one division is correctly
    * rounded in both engines — bit-identical by construction. */
  private def exactDoubleSql(d: Double): String = {
    var v = new java.math.BigDecimal(d) // exact binary→decimal expansion
    var k = 0
    while (v.stripTrailingZeros.scale > 0) { v = v.multiply(new java.math.BigDecimal(2)); k += 1 }
    require(k <= 62, s"exponent $k out of range for $d")
    s"(CAST(${v.longValueExact} AS DOUBLE) / ${1L << k})"
  }

  /** x90: Benford leading-digit audit of order totals — the
    * digit-distribution screen fraud/data-quality teams run on money
    * columns (fabricated or unit-mangled figures drift from Benford's
    * law; naturally-occurring multi-magnitude amounts follow it).
    * Completes the audit battery's VALUE axis: x76 checks references,
    * x77 checks time, x90 checks the numbers themselves.
    *
    * Exact integer digit counts + one IEEE division per row of NINE
    * output rows; deviations are single subtracts against the literal
    * expectations. One scan, one 9-cell hash agg — the x74 shape. */
  val benford = Q.withOracle(
    "x90_benford_digits",
    "x90: Benford leading-digit distribution of o_totalprice (audit)",
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
       |    AS BIGINT) AS digit
       |  FROM orders WHERE o_totalprice >= 1),
       |cnt AS (
       |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM d),
       |exp AS (
       |  ${(1 to 9).map(d => s"SELECT CAST($d AS BIGINT) AS digit, ${exactDoubleSql(BenfordP(d))} AS benford_frac").mkString("\n  UNION ALL ")})
       |SELECT e.digit, COALESCE(c.n, 0) AS n_orders,
       |  CAST(COALESCE(c.n, 0) AS DOUBLE) / tot.t AS frac_obs,
       |  e.benford_frac,
       |  abs(CAST(COALESCE(c.n, 0) AS DOUBLE) / tot.t - e.benford_frac) AS abs_dev
       |FROM exp e LEFT JOIN cnt c USING (digit) CROSS JOIN tot
       |ORDER BY e.digit""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    val d = Tables.orders(s, dir)
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
    val cnt = d.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = d.agg(count(lit(1)).as("t"))
    val exp: DataFrame = {
      import s.implicits._
      (1 to 9).map(dd => (dd.toLong, BenfordP(dd))).toDF("digit", "benford_frac")
    }
    exp.join(cnt, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        (coalesce(col("n"), lit(0L)).cast("double") / col("t")).as("frac_obs"),
        col("benford_frac"),
        abs(coalesce(col("n"), lit(0L)).cast("double") / col("t") - col("benford_frac"))
          .as("abs_dev"))
      .orderBy(col("digit"))
  }

  /** Candidate functional dependencies to profile: (table, lhs, rhs).
    * Mixed on purpose — two should HOLD (p_partkey→p_brand and
    * n_nationkey→n_regionkey are key-determined) and three should FAIL
    * with meaningful counts, so the gate hashes non-trivial values on
    * both sides of the verdict. */
  private val FdCandidates: Seq[(String, String, String)] = Seq(
    ("part", "p_partkey", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("nation", "n_nationkey", "n_regionkey"))

  private def fdOracle: String =
    FdCandidates.map { case (t, l, r) =>
      s"""SELECT '$t: $l -> $r' AS fd,
         |  CAST(COUNT(*) AS BIGINT) AS n_lhs,
         |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
         |  CAST(MAX(nd) AS BIGINT) AS max_rhs,
         |  CAST(CASE WHEN SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS holds
         |FROM (SELECT $l, COUNT(DISTINCT $r) AS nd FROM $t GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY fd"

  /** x96: functional-dependency audit — the column-relationship half of
    * profiling (x56 profiles columns in isolation; this profiles PAIRS):
    * for each declared candidate `lhs → rhs`, how many lhs values exist,
    * how many map to more than one rhs (violations), and the worst
    * fan-out. The Metanome/data-discovery primitive a warehouse runs to
    * find denormalization candidates and silent key breaks.
    *
    * Scale shape: per candidate, one (lhs, rhs)-keyed distinct-style agg
    * then a bounded second agg — Spark plans countDistinct-in-groupBy as
    * a two-phase partial aggregate, so the shuffle carries distinct
    * (lhs, rhs) pairs, not rows. Output is one row per candidate.
    * Verdicts are BIGINT 0/1, not BOOLEAN — one less cross-engine type
    * to trust in the hash. */
  val fdAudit = Q.withOracle(
    "x96_fd_audit",
    s"x96: functional-dependency audit over ${FdCandidates.size} candidate column pairs",
    fdOracle) { (s, dir) =>
    FdCandidates.map { case (t, l, r) =>
      val nd = Tables.table(s, dir, t)
        .groupBy(col(l))
        .agg(countDistinct(col(r)).as("nd"))
      nd.agg(count(lit(1)).cast("long").as("n_lhs"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).cast("long").as("n_violating"),
          max(col("nd")).cast("long").as("max_rhs"))
        .select(lit(s"$t: $l -> $r").as("fd"), col("n_lhs"), col("n_violating"),
          col("max_rhs"),
          when(col("n_violating") === 0, 1L).otherwise(0L).as("holds"))
    }.reduce(_ unionByName _).orderBy(col("fd"))
  }

  /** Join/shuffle keys to profile for skew: (table, key). The five keys
    * every query in this engine shuffles on somewhere. */
  private val SkewKeys: Seq[(String, String)] = Seq(
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"))

  private def skewOracle: String =
    SkewKeys.map { case (t, k) =>
      s"""SELECT '$t.$k' AS key,
         |  CAST(SUM(c) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(c) AS BIGINT) AS max_rows_per_key,
         |  CAST(MAX(c) AS DOUBLE) * COUNT(*) / SUM(c) AS skew_factor
         |FROM (SELECT $k, CAST(COUNT(*) AS BIGINT) AS c FROM $t GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY key"

  /** x105: shuffle-key skew audit — for each declared join/shuffle key,
    * the cardinality profile that decides whether a plain hash shuffle
    * survives at scale: rows, distinct keys, the hottest key's row
    * count, and `skew_factor` = max/mean rows-per-key (1.0 = perfectly
    * uniform; ≥ ~5 = the hottest reducer partition dominates the stage
    * and the x52 salting / AQE skew-join levers apply). The operational
    * pre-flight a 100 TB pipeline runs BEFORE picking join strategies —
    * x56 profiles values, x96 profiles column pairs, x105 profiles the
    * keys the EXECUTION hangs off.
    *
    * Scale shape: per key one (key) hash agg (map-side combined) then a
    * 3-scalar fold — the classic two-level count profile; output is one
    * bounded row per declared key. The double division happens once per
    * output row from exact integer sums. */
  val skewAudit = Q.withOracle(
    "x105_skew_audit",
    s"x105: shuffle-key skew profile for ${SkewKeys.size} declared join keys",
    skewOracle) { (s, dir) =>
    SkewKeys.map { case (t, k) =>
      Tables.table(s, dir, t)
        .groupBy(col(k)).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).cast("long").as("n_rows"),
          count(lit(1)).cast("long").as("n_keys"),
          max(col("c")).cast("long").as("max_rows_per_key"))
        .select(lit(s"$t.$k").as("key"), col("n_rows"), col("n_keys"),
          col("max_rows_per_key"),
          (col("max_rows_per_key").cast("double") * col("n_keys") / col("n_rows"))
            .as("skew_factor"))
    }.reduce(_ unionByName _).orderBy(col("key"))
  }

  /** x113: order↔lineitem revenue reconciliation — the cross-table
    * CONSISTENCY audit the FK/grain/freshness battery doesn't cover:
    * does the order header's o_totalprice equal the sum of its lines'
    * extendedprice·(1−discount)·(1+tax)? Every order lands in exactly
    * one relative-error band (plus a no-lineitems band), so the output
    * is a bounded 6-row profile of how far the denormalized header has
    * drifted from the line-level truth — the first report a pipeline
    * owner reads after a partial load or a currency-rounding bug.
    *
    * Exactness: ALL integer. A 2-decimal price in pennies times two
    * 2-decimal factors in hundredths gives the line value in exact
    * MICROS (ep·(100−d)·(100+t) = value·10^6 — longs throughout, no
    * decimal widening, no doubles anywhere in the output). Relative
    * bands compare |diff|·10^k < total in longs — no division. Headroom:
    * the per-line product tolerates prices to ~$9e8; the per-band
    * |diff| sum tolerates ~$9e12 of aggregate drift (2^63 micros).
    *
    * Scale shape: one lineitem hash agg keyed by l_orderkey, one
    * orderkey equi-join against the header (the natural co-partition;
    * buckets make it shuffle-free via Layout.writeBucketed), one
    * bounded 6-row hash agg. */
  val reconciliation = Q.withOracle(
    "x113_order_recon",
    "x113: order-header vs lineitem-sum revenue reconciliation bands",
    """WITH c AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      * CAST(100 - CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      * CAST(100 + CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS calc_u
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |           * 10000 AS total_u,
      |         c.calc_u
      |  FROM orders o LEFT JOIN c ON c.l_orderkey = o.o_orderkey),
      |b AS (
      |  SELECT CASE
      |    WHEN calc_u IS NULL THEN '5_no_lineitems'
      |    WHEN abs(total_u - calc_u) = 0 THEN '0_exact'
      |    WHEN abs(total_u - calc_u) * 1000 < total_u THEN '1_lt_0.1pct'
      |    WHEN abs(total_u - calc_u) * 100 < total_u THEN '2_lt_1pct'
      |    WHEN abs(total_u - calc_u) * 10 < total_u THEN '3_lt_10pct'
      |    ELSE '4_gte_10pct' END AS band,
      |    COALESCE(abs(total_u - calc_u), 0) AS ad
      |  FROM j)
      |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(ad) AS BIGINT) AS sum_abs_diff_micros
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.Parity.dec
    val calc = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        ((dec(col("l_extendedprice")) * 100).cast("long")
          * (lit(100) - (dec(col("l_discount")) * 100).cast("long"))
          * (lit(100) + (dec(col("l_tax")) * 100).cast("long"))).as("u"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("u")).cast("long").as("calc_u"))
    val j = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        ((dec(col("o_totalprice")) * 100).cast("long") * 10000).as("total_u"))
      .join(calc, col("l_orderkey") === col("o_orderkey"), "left")
    val ad = abs(col("total_u") - col("calc_u"))
    j.select(
        when(col("calc_u").isNull, "5_no_lineitems")
          .when(ad === 0, "0_exact")
          .when(ad * 1000 < col("total_u"), "1_lt_0.1pct")
          .when(ad * 100 < col("total_u"), "2_lt_1pct")
          .when(ad * 10 < col("total_u"), "3_lt_10pct")
          .otherwise("4_gte_10pct").as("band"),
        coalesce(ad, lit(0L)).as("ad"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(col("ad")).cast("long").as("sum_abs_diff_micros"))
      .orderBy(col("band"))
  }

  /** k thresholds the anonymity audit reports against. */
  private val KLevels = Seq(2L, 5L, 10L)

  /** x135: k-anonymity audit over customer quasi-identifiers — the
    * data-governance pre-flight before a table is shared: group by the
    * quasi-identifier tuple (nation, market segment, $1000 balance
    * band) and report, per k ∈ {2, 5, 10}, how many equivalence groups
    * fall below k members and how many customers sit in those
    * re-identifiable groups. One hash agg to the quasi-id grid (map-side
    * combined; the grid is dims × bands — bounded), then a 3-way
    * explode + re-agg over the grid alone. Exactness: the balance band
    * is FLOOR(bal/1000) cast per the engine's cast discipline; all
    * outputs are integer counts. */
  val kAnonymity = Q.withOracle(
    "x135_kanonymity",
    "x135: k-anonymity audit of customer quasi-identifiers at k=2/5/10",
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
       |    CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM customer GROUP BY 1, 2, 3)
       |SELECT CAST(ks.k AS BIGINT) AS k,
       |  CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(SUM(CASE WHEN sz < ks.k THEN 1 ELSE 0 END) AS BIGINT)
       |    AS violating_groups,
       |  CAST(SUM(CASE WHEN sz < ks.k THEN sz ELSE 0 END) AS BIGINT)
       |    AS customers_at_risk,
       |  CAST(MIN(sz) AS BIGINT) AS min_group_size
       |FROM g, LATERAL (SELECT unnest([${KLevels.mkString(", ")}]) AS k) AS ks
       |GROUP BY 1 ORDER BY k""".stripMargin) { (s, dir) =>
    val g = Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"))
    g.withColumn("k", explode(array(KLevels.map(lit): _*)))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("sz") < col("k"), 1L).otherwise(0L)).cast("long")
          .as("violating_groups"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(0L)).cast("long")
          .as("customers_at_risk"),
        min(col("sz")).cast("long").as("min_group_size"))
      .orderBy(col("k"))
  }

  /** l levels audited by x183 (distinct-l-diversity). */
  private val LLevels = Seq(2, 3, 5)

  /** x183: l-diversity audit — k-anonymity's published fix
    * (Machanavajjhala et al. 2007, "l-Diversity: Privacy Beyond
    * k-Anonymity"): a quasi-identifier group can be large (k-anonymous)
    * yet still leak if everyone in it shares the SAME sensitive value —
    * the homogeneity attack. Distinct-l variant: per quasi-id group
    * (nation, balance band) count the DISTINCT sensitive values
    * (market segment); for each l in [[LLevels]], report the groups
    * (and their member counts) whose sensitive diversity falls below l.
    * Next to x135 the pair answers both halves of a release review:
    * "are groups big enough" AND "are they varied enough".
    *
    * Scale shape: x135's exactly — one quasi-id hash agg over the
    * table (countDistinct adds one Expand pass, still map-side
    * partial), then the l-level explode and rollup run on the bounded
    * group grid. All outputs exact integers. */
  val lDiversity = Q.withOracle(
    "x183_l_diversity",
    "x183: distinct-l-diversity audit of the sensitive segment per quasi-id group",
    s"""WITH g AS (
       |  SELECT c_nationkey,
       |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
       |    CAST(COUNT(*) AS BIGINT) AS sz,
       |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_div
       |  FROM customer GROUP BY 1, 2)
       |SELECT CAST(ls.l AS BIGINT) AS l,
       |  CAST(COUNT(*) AS BIGINT) AS n_groups,
       |  CAST(SUM(CASE WHEN l_div < ls.l THEN 1 ELSE 0 END) AS BIGINT)
       |    AS violating_groups,
       |  CAST(SUM(CASE WHEN l_div < ls.l THEN sz ELSE 0 END) AS BIGINT)
       |    AS customers_at_risk,
       |  CAST(MIN(l_div) AS BIGINT) AS min_diversity
       |FROM g, LATERAL (SELECT unnest([${LLevels.mkString(", ")}]) AS l) AS ls
       |GROUP BY 1 ORDER BY l""".stripMargin) { (s, dir) =>
    val g = Tables.customer(s, dir)
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(col("c_mktsegment")).as("l_div"))
    g.withColumn("l", explode(array(LLevels.map(lit): _*)))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("l_div") < col("l"), 1L).otherwise(0L)).cast("long")
          .as("violating_groups"),
        sum(when(col("l_div") < col("l"), col("sz")).otherwise(0L)).cast("long")
          .as("customers_at_risk"),
        min(col("l_div")).cast("long").as("min_diversity"))
      .orderBy(col("l"))
  }

  val all: Seq[Q] =
    Seq(fkOrphans, freshness, benford, fdAudit, skewAudit, reconciliation,
      kAnonymity, lDiversity)
}
