package graft.ext

import graft.{Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.functions._

/** Association-rule mining over order baskets — the frequent-itemset
  * primitive (A-Priori's 2-itemset core) shaped for Spark: basket
  * construction is one orderkey-keyed self-join whose per-order fan-out
  * is bounded by basket size (≤7 lines in TPC-H-shaped data), pair
  * supports are one hash aggregation at pair grain, and the two
  * item-support joins attach |parts|-sized tables that AQE broadcasts at
  * any SF where they fit (and shuffle-joins by part key where they
  * don't). No candidate-generation loop, no driver-side itemset state —
  * the frequent-pair lattice level IS the pair aggregate.
  *
  * Rule metrics (confidence, lift) are each ONE IEEE division/multiply
  * chain over exact integer supports, with the identical expression
  * shape in the DuckDB oracle, so the float columns hash-match exactly.
  */
object Itemsets {

  /** Bounded output: top rules by support with deterministic tiebreak. */
  private val TopN = 100

  private val rulesOracle: String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
       |n AS MATERIALIZED (SELECT COUNT(DISTINCT ok) AS n_orders FROM b),
       |sup AS MATERIALIZED (
       |  SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM b GROUP BY 1),
       |pairs AS MATERIALIZED (
       |  SELECT a.p AS p1, c.p AS p2, CAST(COUNT(*) AS BIGINT) AS n_both
       |  FROM b a JOIN b c ON a.ok = c.ok AND a.p < c.p
       |  GROUP BY 1, 2)
       |SELECT p.p1, p.p2, p.n_both,
       |  CAST(p.n_both AS DOUBLE) / s1.s AS conf,
       |  (CAST(p.n_both AS DOUBLE) * n.n_orders) / (s1.s * s2.s) AS lift
       |FROM pairs p
       |JOIN sup s1 ON s1.p = p.p1
       |JOIN sup s2 ON s2.p = p.p2
       |CROSS JOIN n
       |ORDER BY p.n_both DESC, p.p1, p.p2 LIMIT $TopN""".stripMargin

  /** x61: top-$TopN frequent part pairs with rule confidence and lift —
    * bounded basket self-join, pair-grain aggregation, item-support
    * joins sized to the part dimension. */
  val rules = Q.withOracle(
    "x61_association_rules",
    s"x61: top-$TopN frequent part pairs with confidence and lift",
    rulesOracle) { (s, dir) =>
    // Aggregate-built baskets (optimization r16, the coEdges build):
    // one ok-keyed collect_set exchange replaces the (ok, p) distinct;
    // supports explode the sets, pairs explode in-row (i<j over the
    // sorted set ⇔ a.p < c.p), the order count is a row count.
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("p"))).as("ps"))
      .materialized // read by supports, pair explode, and the order count
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val sup = baskets.select(explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).cast("long").as("s"))
    val pairs = baskets.filter(size(col("ps")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ps) - 2),
          |  i -> transform(slice(ps, i + 2, size(ps) - i - 1),
          |    y -> struct(ps[i] AS p1, y AS p2))))""".stripMargin)).as("e"))
      .groupBy(col("e.p1").as("p1"), col("e.p2").as("p2"))
      .agg(count(lit(1)).cast("long").as("n_both"))
    pairs
      .join(sup.select(col("p").as("p1"), col("s").as("s1")), "p1")
      .join(sup.select(col("p").as("p2"), col("s").as("s2")), "p2")
      .crossJoin(nOrders) // 1-row scalar
      .select(col("p1"), col("p2"), col("n_both"),
        (col("n_both").cast("double") / col("s1")).as("conf"),
        ((col("n_both").cast("double") * col("n_orders")) / (col("s1") * col("s2"))).as("lift"))
      .orderBy(col("n_both").desc, col("p1"), col("p2"))
      .limit(TopN)
  }

  /** Part-degree cap for x140's candidate generation: parts bought by
    * more than this many customers generate NO pairs. Semantic and
    * compute point the same way (the x110 discipline): a part half the
    * population buys says nothing about taste affinity, and its C(d,2)
    * pair fan-out is exactly the blowup an inverted-index join must
    * bound. Per-part work is ≤ C(64,2) = 2016 pairs regardless of SF. */
  private val MaxPartDeg = 64

  /** Minimum shared (non-hub) parts for a pair to surface. */
  private val MinShared = 2

  private val basketTopN = 20

  private val basketOracle: String =
    s"""WITH bask AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |deg AS MATERIALIZED (
       |  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM bask GROUP BY 1),
       |small AS MATERIALIZED (
       |  SELECT bask.c, bask.p FROM bask JOIN deg ON deg.p = bask.p
       |  WHERE deg.d BETWEEN 2 AND $MaxPartDeg),
       |pairs AS (
       |  SELECT a.c AS cust_a, b.c AS cust_b, CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM small a JOIN small b ON a.p = b.p AND a.c < b.c
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared),
       |sz AS MATERIALIZED (
       |  SELECT c, CAST(COUNT(*) AS BIGINT) AS size FROM bask GROUP BY 1)
       |SELECT cust_a, cust_b, shared, sa.size AS size_a, sb.size AS size_b,
       |  CAST(shared AS DOUBLE) / (sa.size + sb.size - shared) AS jaccard
       |FROM pairs
       |JOIN sz sa ON sa.c = cust_a
       |JOIN sz sb ON sb.c = cust_b
       |ORDER BY jaccard DESC, shared DESC, cust_a, cust_b
       |LIMIT $basketTopN""".stripMargin

  /** x140: customers-who-buy-alike — exact Jaccard set-similarity join
    * over customer part-baskets, candidates from a DEGREE-CAPPED
    * inverted index (part → customers, hub parts excluded), the
    * collaborative-filtering candidate generator.
    *
    * Scale shape: never customers² — candidates come only from co-
    * occurrence in a ≤$MaxPartDeg-customer part bucket (one part-keyed
    * self equi-join, per-key fan-out bounded by construction), then one
    * pair-grain hash agg; the two size joins attach a per-customer
    * aggregate, customer-keyed. Jaccard is one IEEE division of exact
    * longs — and the denominator uses FULL basket sizes, so the score is
    * the true Jaccard restricted to non-hub evidence in the numerator
    * (stated semantics, replayed identically by the oracle).
    *
    * Optimization-r16 note: the x110 in-row pair build (BoundedDistinct-
    * MinK(cap+1) per part + in-row ordered-pair explode, one exchange
    * instead of the deg join + self-join) was TRIED here and MEASURED
    * SLOWER (4.6 → 5.5 s isolated at sf0.1, clean calibration): the
    * work it removes is small (a |parts|-sized aggregate + a fan-out-
    * bounded SMJ), while the typed-Aggregator grouping forgoes whole-
    * stage codegen over the full basket table — x110 won the same trade
    * only because it deleted two E-sized exchanges and both SMJ sorts.
    * Kept the join form deliberately. */
  val basketJaccard = Q.withOracle(
    "x140_basket_jaccard",
    s"x140: top-$basketTopN customer pairs by basket Jaccard (degree-capped inverted index, cap $MaxPartDeg)",
    basketOracle) { (s, dir) =>
    val bask = Tables.orders(s, dir)
      .select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")), "ok")
      .select(col("c"), col("p")).distinct()
      .materialized // read by degree filter, pair join, and sizes
    val deg = bask.groupBy(col("p")).agg(count(lit(1)).cast("long").as("d"))
    val small = bask.join(deg.filter(col("d").between(2, MaxPartDeg)), "p")
      .select(col("c"), col("p"))
    val pairs = small.as("a").join(small.as("b"),
        col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .groupBy(col("a.c").as("cust_a"), col("b.c").as("cust_b"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= MinShared)
    val sz = bask.groupBy(col("c")).agg(count(lit(1)).cast("long").as("size"))
    pairs
      .join(sz.select(col("c").as("cust_a"), col("size").as("size_a")), "cust_a")
      .join(sz.select(col("c").as("cust_b"), col("size").as("size_b")), "cust_b")
      .select(col("cust_a"), col("cust_b"), col("shared"),
        col("size_a"), col("size_b"),
        (col("shared").cast("double") /
          (col("size_a") + col("size_b") - col("shared"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("shared").desc,
        col("cust_a"), col("cust_b"))
      .limit(basketTopN)
  }

  val all: Seq[Q] = Seq(rules, basketJaccard)
}
