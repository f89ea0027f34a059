package graft.analytics

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RFM (recency / frequency / monetary) customer segmentation — the
  * classic lifecycle-marketing scoring: quintile every customer on how
  * recently they ordered, how often, and how much, and report the
  * 5×5×5 segment grid. The reference's report stack profiles facilities
  * by week (weekly-report.py:269-403); RFM is the same per-entity
  * scoring idea applied to the order log's customers.
  *
  * Exactness: all three metrics are exact integers (days, counts,
  * pennies); quintiles are SQL NTILE over UNIQUE total orders (metric,
  * custkey) so ties are impossible and both engines agree; the grid's
  * monetary sum stays exact pennies (a long — no doubles anywhere).
  * Scores follow the marketing convention: quintile 1 = best (most
  * recent / most frequent / highest spend), via ascending NTILE on
  * (rec_days, ck) / (−freq, ck) / (−mon, ck).
  *
  * Scale shape: one orders hash agg to the per-customer grain, then
  * each quintile is the x111 segmented exact-rank composition — a
  * per-(metric-segment) row_number in parallel plus broadcast segment
  * offsets, with the NTILE index DERIVED from the exact rank — so no
  * global single-partition window ever touches per-customer data. The
  * only broadcast scalars are the 1-row high-water date and the 1-row
  * customer count. Output is ≤125 rows, contractually bounded.
  */
object Rfm {

  private val Quantiles = 5

  /** Segment shift for the monetary key (pennies >> 20 ≈ $10.5k
    * segments). Recency (calendar days) and frequency (small counts)
    * have data-bounded domains, so their segment IS the value. */
  private val MonShiftBits = 20

  /** Append `out` = the exact global 1-based rank of `key` (ascending,
    * custkey tiebreak) — [[graft.ext.SegmentedRank]]'s composition with
    * the segment picked by `shift` (arithmetic shiftright of the long
    * key — safe for the negated descending keys). */
  private[analytics] def exactRank(df: DataFrame, key: Column, shift: Int, out: String): DataFrame = {
    val t = df.withColumn("_k", key.cast("long"))
      .withColumn("_seg", shiftright(col("_k"), shift))
    graft.ext.SegmentedRank.withGroupedRank(
      t, Nil, "_seg", Seq(col("_k"), col("ck")), out)
      .drop("_k", "_seg")
  }

  /** SEVERAL [[exactRank]]s at once over a checkpointed copy of `df`, in
    * one linear plan ([[graft.ext.SegmentedRank.withGlobalRanks]]) — the
    * r16 fix for the nested form, whose per-level offsets-from-previous-
    * output re-instantiated the input 2^k times (x114 planned 34 parquet
    * scans of orders; x124, which also fans `ranked` out to six
    * consumers, planned 64). Rank values are identical (same (key, ck)
    * order over the same row set). */
  private[analytics] def exactRanks(df: DataFrame,
      specs: Seq[(Column, Int, String)]): DataFrame = {
    val cp = Materialize(df)
    graft.ext.SegmentedRank.withGlobalRanks(cp,
      specs.map { case (key, shift, out) =>
        (shiftright(key.cast("long"), shift), Seq(key.cast("long"), col("ck")), out)
      })
  }

  /** NTILE($Quantiles) index from an exact rank column (the x111
    * integer-div formula — floor semantics identical in both engines). */
  private def ntileOf(rank: String): Column =
    graft.ext.SegmentedRank.ntileExpr(Quantiles, rank, "_n").cast("long")

  val rfm = Q.withOracle(
    "x114_rfm_segments",
    s"x114: $Quantiles-quintile RFM customer segmentation grid (1 = best)",
    s"""WITH base AS (
       |  SELECT o_custkey AS ck, MAX(CAST(o_orderdate AS DATE)) AS lastd,
       |    CAST(COUNT(*) AS BIGINT) AS freq,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS mon
       |  FROM orders GROUP BY 1),
       |hw AS (SELECT MAX(lastd) AS hw FROM base),
       |k AS (
       |  SELECT ck, date_diff('day', lastd, hw.hw) AS rec, freq, mon
       |  FROM base CROSS JOIN hw),
       |q AS (
       |  SELECT ck, mon,
       |    NTILE($Quantiles) OVER (ORDER BY rec, ck) AS r_q,
       |    NTILE($Quantiles) OVER (ORDER BY -freq, ck) AS f_q,
       |    NTILE($Quantiles) OVER (ORDER BY -mon, ck) AS m_q
       |  FROM k)
       |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       |  CAST(m_q AS BIGINT) AS m_q,
       |  CAST(COUNT(*) AS BIGINT) AS n_customers,
       |  CAST(SUM(mon) AS BIGINT) AS monetary_pennies
       |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("ck"))
      .agg(max(to_date(col("o_orderdate"))).as("lastd"),
        count(lit(1)).cast("long").as("freq"),
        sum((graft.Parity.dec(col("o_totalprice")) * 100).cast("long"))
          .cast("long").as("mon"))
    val hw = base.agg(max(col("lastd")).as("hw"))
    val n = base.agg(count(lit(1)).cast("long").as("_n"))
    val k = base.crossJoin(broadcast(hw))
      .select(col("ck"), datediff(col("hw"), col("lastd")).cast("long").as("rec"),
        col("freq"), col("mon"))
    val ranked = exactRanks(k, Seq(
      (col("rec"), 0, "_rr"), (-col("freq"), 0, "_rf"),
      (-col("mon"), MonShiftBits, "_rm")))
    ranked.crossJoin(broadcast(n))
      .select(ntileOf("_rr").as("r_q"), ntileOf("_rf").as("f_q"),
        ntileOf("_rm").as("m_q"), col("mon"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("mon")).cast("long").as("monetary_pennies"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val all: Seq[Q] = Seq(rfm)
}
