package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** x66: KMV (k-minimum-values) distinct-count sketch — the ORACLE-EXACT
  * cardinality sketch, complementing a1b's HLL row (which is inherently
  * no_oracle). The estimator (Bar-Yossef et al., RANDOM'02): hash every
  * value into [0, P), keep the k smallest DISTINCT hashes per group; if
  * h_k is the k-th smallest, the distinct count ≈ (k−1) · P / h_k.
  * Every step here is integer arithmetic — the Knuth multiplicative hash
  * shared with x26/x44 and one integer division — so DuckDB replays the
  * sketch bit-for-bit and the driver hash-compare holds EXACTLY, not
  * within-tolerance: the one sketch in the registry whose error is
  * oracle-pinned rather than spec-pinned.
  *
  * Scale shape — why this beats `COUNT(DISTINCT)` at 100 TB: the state
  * is the [[Kmv.BoundedDistinctMinK]] typed Aggregator — a sorted
  * distinct array CAPPED AT k, partial-aggregable map-side — so each
  * partition ships ≤ k longs per group key and the exchange never
  * carries the value universe (an exact distinct shuffles every distinct
  * value; a 10⁹-user log shuffles 10⁹ rows vs k=32 here). The exact
  * count is computed alongside ONLY because this is the QA query that
  * certifies the estimator; production drops that column and with it the
  * full-width shuffle.
  */
object Kmv {

  /** Hash modulus/multiplier — x26's Knuth modular hash (Curation.scala
    * documents the overflow bound; identical on any engine). Shared with
    * [[graft.streaming.KmvFeed]] so the incremental sketch merges into
    * the same hash space. */
  private[graft] val P = 1000003L
  private[graft] val Kn = 2654435761L % P // = 427799
  /** Sketch size: 32 mins → ~18% standard error, the textbook k/ε² rule. */
  private[graft] val SketchK = 32

  /** The sketch hash as a Column (shared batch/streaming). */
  private[graft] def hashCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((c % P) * Kn) % P

  /** (h_k, estimate) read off a sorted distinct min-k buffer; None while
    * the group holds fewer than k distinct hashes (the buffer IS the
    * exact set there). Integer division matches the oracle's `//`. */
  private[graft] def estimate(mins: Array[Long]): Option[(Long, Long)] =
    if (mins.length < SketchK) None
    else Some((mins(SketchK - 1), (SketchK - 1) * P / mins(SketchK - 1)))

  /** Bounded DISTINCT smallest-k collector over longs — [[Ivf]]'s
    * BoundedMinN with duplicate suppression (KMV is defined over the
    * distinct hash set; an exact-match probe in the binary search is
    * what makes pre-deduplication — and its corpus-wide shuffle —
    * unnecessary). State is a sorted ≤ k array; reduce is binary-search
    * + arraycopy; merges concatenate two ≤ k arrays. */
  final class BoundedDistinctMinK(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k > 0, s"k must be positive, got $k")
    override def zero: Array[Long] = Array.emptyLongArray
    private def insert(b: Array[Long], v: Long): Array[Long] = {
      if (b.length == k && v >= b(k - 1)) return b
      val i = java.util.Arrays.binarySearch(b, v)
      if (i >= 0) return b // already present: KMV state is a SET
      val ins = -i - 1
      val len = math.min(b.length + 1, k)
      val out = new Array[Long](len)
      System.arraycopy(b, 0, out, 0, ins)
      out(ins) = v
      System.arraycopy(b, ins, out, ins + 1, len - ins - 1)
      out
    }
    override def reduce(b: Array[Long], a: Long): Array[Long] = insert(b, a)
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      y.foldLeft(x)(insert)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = Kmv.arrayLongEnc
    override def outputEncoder: Encoder[Array[Long]] = Kmv.arrayLongEnc
  }

  private val arrayLongEnc: Encoder[Array[Long]] = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    ExpressionEncoder[Array[Long]]()
  }

  private def kmvOracle: String =
    s"""WITH h AS MATERIALIZED (
       |  SELECT DISTINCT event_type,
       |    ((user_id % $P) * $Kn) % $P AS h
       |  FROM events),
       |r AS MATERIALIZED (
       |  SELECT event_type, h,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM h),
       |x AS MATERIALIZED (
       |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |  FROM events GROUP BY event_type)
       |SELECT x.event_type, x.n_exact, k.h AS h_k,
       |  (${SketchK - 1} * $P) // k.h AS est_kmv
       |FROM x LEFT JOIN (SELECT event_type, h FROM r WHERE rn = $SketchK) k
       |  USING (event_type)
       |ORDER BY x.event_type""".stripMargin

  /** x66: per-event-type distinct-user estimate from a k=32 KMV sketch,
    * alongside the exact count that certifies it. h_k/est are NULL when
    * a group holds fewer than k distinct hashes (the sketch IS the exact
    * set there — small groups read the exact column). */
  val kmvDistinct = Q.withOracle(
    "x66_kmv_distinct",
    s"x66: KMV (k=$SketchK) distinct-user sketch per event_type, oracle-exact",
    kmvOracle) { (s, dir) =>
    import s.implicits._
    val ev = Tables.events(s, dir)
    val mins = ev
      .select(col("event_type"), hashCol(col("user_id")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new BoundedDistinctMinK(SketchK).toColumn.name("mins"))
      .toDF("event_type", "mins")
      .select(col("event_type"),
        when(size(col("mins")) === SketchK,
          element_at(col("mins"), SketchK)).as("h_k"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).cast("long").as("n_exact"))
    exact.join(mins, Seq("event_type"), "left")
      .select(col("event_type"), col("n_exact"), col("h_k"),
        // integer div, matching DuckDB's `//` (both truncate toward zero)
        expr(s"${(SketchK - 1) * P} div h_k").as("est_kmv"))
      .orderBy(col("event_type"))
  }

  private def intersectOracle: String =
    s"""WITH h AS MATERIALIZED (
       |  SELECT DISTINCT event_type, ((user_id % $P) * $Kn) % $P AS h
       |  FROM events),
       |l AS MATERIALIZED (
       |  SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM h) WHERE rn <= $SketchK),
       |pairs AS MATERIALIZED (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM (SELECT DISTINCT event_type FROM events) a
       |  JOIN (SELECT DISTINCT event_type FROM events) b
       |    ON a.event_type < b.event_type),
       |u AS MATERIALIZED (
       |  -- k smallest of L_A ∪ L_B per pair, tagged with membership
       |  SELECT type_a, type_b, h, in_a, in_b FROM (
       |    SELECT p.type_a, p.type_b, x.h,
       |      MAX(CASE WHEN x.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
       |      MAX(CASE WHEN x.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b,
       |      ROW_NUMBER() OVER (PARTITION BY p.type_a, p.type_b ORDER BY x.h) AS rn
       |    FROM pairs p
       |    JOIN l x ON x.event_type IN (p.type_a, p.type_b)
       |    GROUP BY p.type_a, p.type_b, x.h) WHERE rn <= $SketchK),
       |m AS MATERIALIZED (
       |  SELECT type_a, type_b,
       |    CAST(COUNT(*) AS BIGINT) AS k_union,
       |    CAST(SUM(in_a * in_b) AS BIGINT) AS matches,
       |    CAST(MAX(h) AS BIGINT) AS h_k
       |  FROM u GROUP BY 1, 2),
       |ex AS MATERIALIZED (
       |  SELECT p.type_a, p.type_b, CAST(COUNT(j.ta) AS BIGINT) AS n_exact_inter
       |  FROM pairs p
       |  LEFT JOIN (
       |    SELECT a.event_type AS ta, b.event_type AS tb
       |    FROM (SELECT DISTINCT event_type, user_id FROM events) a
       |    JOIN (SELECT DISTINCT event_type, user_id FROM events) b
       |      ON a.user_id = b.user_id AND a.event_type < b.event_type) j
       |    ON j.ta = p.type_a AND j.tb = p.type_b
       |  GROUP BY 1, 2)
       |SELECT m.type_a, m.type_b, ex.n_exact_inter, m.matches,
       |  CASE WHEN m.k_union < $SketchK THEN m.matches
       |       ELSE (m.matches * ((${SketchK - 1} * $P) // m.h_k)) // $SketchK
       |  END AS est_inter
       |FROM m JOIN ex ON ex.type_a = m.type_a AND ex.type_b = m.type_b
       |ORDER BY m.type_a, m.type_b""".stripMargin

  /** x98: KMV set-INTERSECTION estimation — audience overlap between
    * every pair of event types from the same k=32 sketches x66 builds,
    * the Beyer et al. (SIGMOD'07) K-min-value set-operation estimator:
    * with L_∪ the k smallest of L_A ∪ L_B,
    *
    *   ρ̂ = |{h ∈ L_∪ : h ∈ L_A ∧ h ∈ L_B}| / k      (Jaccard-ish)
    *   |A ∩ B| ≈ ρ̂ · D̂_∪ = (matches · ((k−1)·P // h_k)) // k
    *
    * — every step integer arithmetic on the shared Knuth hash, so DuckDB
    * replays the ESTIMATE bit-for-bit (the x66 discipline: the sketch's
    * error is oracle-pinned, not spec-pinned). When the union sketch
    * holds < k hashes both sets were exact, and the estimate IS the
    * match count. x72 computes this overlap exactly at full shuffle
    * width; x98 is its sketch tier — the answer a 10⁹-user log can
    * afford: per-partition state is ≤ k longs per type, the pairwise
    * combine runs on |types| 32-long arrays with codegen'd array
    * set-ops (array_union/array_intersect), and the exact QA column is
    * the one full-width join a production run drops.
    *
    * Scale note: the pair enumeration is |types|² over a broadcast
    * handful of sketch rows — metadata, the x61-pairs shape, never
    * data × data. */
  val kmvIntersect = Q.withOracle(
    "x98_kmv_intersect",
    s"x98: KMV (k=$SketchK) audience-overlap estimate per event-type pair, oracle-exact",
    intersectOracle) { (s, dir) =>
    import s.implicits._
    val ev = Tables.events(s, dir)
    val sketches = ev
      .select(col("event_type"), hashCol(col("user_id")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new BoundedDistinctMinK(SketchK).toColumn.name("mins"))
      .toDF("event_type", "mins")
    val a = sketches.select(col("event_type").as("type_a"), col("mins").as("la"))
    val b = sketches.select(col("event_type").as("type_b"), col("mins").as("lb"))
    val est = a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        slice(array_sort(array_union(col("la"), col("lb"))), 1, SketchK).as("lu"),
        array_intersect(col("la"), col("lb")).as("li"))
      .select(col("type_a"), col("type_b"),
        size(col("lu")).cast("long").as("k_union"),
        size(array_intersect(col("lu"), col("li"))).cast("long").as("matches"),
        element_at(col("lu"), size(col("lu"))).as("h_k"))
      .select(col("type_a"), col("type_b"), col("matches"),
        when(col("k_union") < SketchK, col("matches"))
          .otherwise(expr(s"(matches * ((${(SketchK - 1) * P}) div h_k)) div $SketchK"))
          .as("est_inter"))
    // exact overlap QA column (the full-width join production drops)
    val tu = ev.select(col("event_type"), col("user_id")).distinct()
    val exact = tu.as("x").join(tu.as("y"),
        col("x.user_id") === col("y.user_id")
          && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).cast("long").as("n_exact_inter"))
    est.join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        col("matches"), col("est_inter"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val all: Seq[Q] = Seq(kmvDistinct, kmvIntersect)
}
