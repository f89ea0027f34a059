package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segmented-scan exact global rank / prefix sums — the scale-safe
  * replacement for a corpus-wide `Window.orderBy(...)` (which Spark plans
  * as a SINGLE-PARTITION window: every row funnels through one reducer
  * for a global sort, the one shape that cannot survive a 100× scale-up).
  *
  * The trick (x92/x95 discipline, first applied to x111's range planner):
  * pick a segment key that is a MONOTONE non-decreasing function of the
  * leading sort column. Then
  *
  *   global_rank(row) = (# rows in strictly-earlier segments) + within-segment rank
  *
  * and identically for any running SUM:
  *
  *   prefix_sum(row) = (Σ value in strictly-earlier segments) + within-segment running sum
  *
  * The within-segment window runs partitioned (parallel, each executor
  * sorts only one segment's rows); the per-segment aggregates form a
  * |segments|-row table whose running-sum offsets are computed with an
  * unpartitioned window over that BOUNDED table and broadcast back. The
  * only full-data shuffle is the segment hash partition. The grouped
  * variants apply the same composition independently inside each group
  * (the offsets window partitions by the group, the bounded table is
  * |groups × segments| rows).
  *
  * Exact-NTILE semantics then fall out of the exact rank by SQL's own
  * formula (first `n mod k` buckets carry ⌈n/k⌉ rows, the rest ⌊n/k⌋) —
  * derived, not approximated, so oracles written with plain `NTILE(k)
  * OVER (ORDER BY ...)` replay bit-identically.
  *
  * One implementation serves every segmented-scan operator in the repo:
  * x25 deciles, x92 weighted median, x95 Gini, x100 KS, x108
  * Mann–Whitney, x111 range planner, x114 RFM, x117/x124 rank
  * correlations, x125 quartiles, x131 ABC classes. */
object SegmentedRank {

  /** Adds `r` (1-based exact global rank over `orderCols`) and `n` (total
    * row count, same value on every row) to `df`.
    *
    * `segCol` MUST be monotone non-decreasing in the leading order column
    * (equal order keys ⇒ equal segments); `orderCols` must be a total
    * order (include a tiebreaker key) for the rank to be deterministic. */
  def withGlobalRank(df: DataFrame, segCol: Column, orderCols: Seq[Column]): DataFrame =
    scan(df.withColumn("__seg", segCol), Nil, "__seg", orderCols,
      rankAs = Some("r"), values = Nil, inclusive = true,
      countTotalAs = Some("n"), valueTotals = Nil)
      .drop("__seg")

  /** SEVERAL exact global ranks over ONE frame, in ONE linear plan. Each
    * spec `(segCol, orderCols, out)` adds `out` exactly as
    * [[withGlobalRank]] would; `countTotalAs` adds the total row count.
    *
    * Why this exists (r16 optimization): chaining k `withGlobalRank`
    * calls derives each call's bounded offsets table from the PREVIOUS
    * call's output, so the input subtree is instantiated twice per level
    * — 2^k copies of the input plan (x191's 5-signal panel planned 3,408
    * physical operators with 340 parquet scans, and the in-segment
    * windows re-execute 2^k−1 times where k passes suffice). Here every
    * offsets table and every in-segment window is derived from the SAME
    * input frame — the ranks are row-local columns over an identical row
    * set, so the values are identical to the chained form (pinned by
    * SegmentedRankSpec) while the plan stays k windows + k bounded aggs +
    * k broadcast joins over ONE copy of the input. Callers with an
    * expensive input should still materialize it first so the k
    * offset aggregations and the window chain share one materialization. */
  def withGlobalRanks(df: DataFrame,
      specs: Seq[(Column, Seq[Column], String)],
      countTotalAs: Option[String] = None): DataFrame = {
    require(specs.nonEmpty, "withGlobalRanks needs at least one spec")
    val segNames = specs.indices.map(i => s"__mseg$i")
    // the shared frame: input + every spec's segment key
    val base = specs.zipWithIndex.foldLeft(df) {
      case (acc, ((seg, _, _), i)) => acc.withColumn(segNames(i), seg)
    }
    // in-segment ranks: one Window per spec, chained on the shared frame
    // (consecutive Windows with different partitioning plan as a linear
    // exchange+sort chain — no subtree duplication)
    var out = base
    specs.zipWithIndex.foreach { case ((_, ord, _), i) =>
      val w = Window.partitionBy(col(segNames(i))).orderBy(ord: _*)
      out = out.withColumn(s"__mir$i", row_number().over(w))
    }
    // per-spec bounded offsets tables, every one derived from `base`
    specs.zipWithIndex.foreach { case ((_, _, name), i) =>
      val offW = Window.orderBy(col(segNames(i)))
        .rowsBetween(Window.unboundedPreceding, -1)
      var offs = base.groupBy(col(segNames(i)))
        .agg(count(lit(1)).as("__bn"))
        .withColumn("__offc", coalesce(sum(col("__bn")).over(offW), lit(0L)))
      val keep = col(segNames(i)) +: col("__offc") +:
        (if (i == 0) countTotalAs.map(n =>
          sum(col("__bn")).over(Window.partitionBy()).as(n)).toSeq
         else Nil)
      offs = offs.select(keep: _*)
      out = out.join(broadcast(offs), Seq(segNames(i)))
        .withColumn(name, (col("__offc") + col(s"__mir$i")).cast("long"))
        .drop("__offc", s"__mir$i")
    }
    out.drop(segNames: _*)
  }

  /** Grouped exact rank: adds `out` = the 1-based exact rank of
    * `orderCols` within each `groupCols` partition. `df` must already
    * carry the segment column `segCol` (monotone non-decreasing in the
    * leading order column within every group); it is left in place for
    * callers that reuse it (x131's cumulative pass). */
  def withGroupedRank(df: DataFrame, groupCols: Seq[String], segCol: String,
      orderCols: Seq[Column], out: String = "rnk"): DataFrame =
    scan(df, groupCols, segCol, orderCols,
      rankAs = Some(out), values = Nil, inclusive = true,
      countTotalAs = None, valueTotals = Nil)

  /** Grouped segmented running sums: for each `(value, name)` in
    * `values`, adds `name` = the running sum of `value` over `orderCols`
    * within each `groupCols` partition — frame UNBOUNDED PRECEDING to
    * CURRENT ROW when `inclusive`, to 1 PRECEDING otherwise (cast to
    * long; 0 when the exclusive frame is empty). `valueTotals` maps a
    * value's output name to an additional per-group TOTAL column,
    * computed from the bounded per-segment sums table — no second
    * full-data pass (x100's n_a/n_b ride this). */
  def withGroupedPrefix(df: DataFrame, groupCols: Seq[String], segCol: String,
      orderCols: Seq[Column], values: Seq[(Column, String)], inclusive: Boolean,
      valueTotals: Seq[(String, String)] = Nil): DataFrame =
    scan(df, groupCols, segCol, orderCols,
      rankAs = None, values = values, inclusive = inclusive,
      countTotalAs = None, valueTotals = valueTotals)

  /** Shared core: ONE bounded offsets aggregation + ONE broadcast join
    * carrying every requested output — rank offsets, value-sum offsets,
    * and per-group totals — so a caller needing several of them still
    * pays a single segment shuffle and a single join. */
  private def scan(df: DataFrame, groupCols: Seq[String], segCol: String,
      orderCols: Seq[Column], rankAs: Option[String],
      values: Seq[(Column, String)], inclusive: Boolean,
      countTotalAs: Option[String],
      valueTotals: Seq[(String, String)]): DataFrame = {
    val gcols = groupCols.map(col)
    val keys = groupCols :+ segCol
    val keyCols = keys.map(col)
    // offsets/totals windows run over the BOUNDED per-segment table only
    val offW = (if (groupCols.isEmpty) Window.orderBy(col(segCol))
                else Window.partitionBy(gcols: _*).orderBy(col(segCol)))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy(gcols: _*)
    val bucketAggs = count(lit(1)).as("__bn") +:
      values.zipWithIndex.map { case ((v, _), i) => sum(v).as(s"__bs$i") }
    var offsets = df.groupBy(keyCols: _*)
      .agg(bucketAggs.head, bucketAggs.tail: _*)
    // the machinery is exact-integer (offset + in-segment sum, cast to
    // long at the end) — a fractional value column would be silently
    // truncated there, so reject it here, where the type is resolved
    values.indices.foreach { i =>
      val dt = offsets.schema(s"__bs$i").dataType
      require(dt == org.apache.spark.sql.types.LongType,
        s"segmented prefix value '${values(i)._2}' resolves to $dt; " +
          "pass an integral column (pre-scale fractional values to exact units)")
    }
    if (rankAs.isDefined)
      offsets = offsets.withColumn("__offc",
        coalesce(sum(col("__bn")).over(offW), lit(0L)))
    values.indices.foreach { i =>
      offsets = offsets.withColumn(s"__offs$i",
        coalesce(sum(col(s"__bs$i")).over(offW), lit(0L)))
    }
    countTotalAs.foreach { n =>
      offsets = offsets.withColumn(n, sum(col("__bn")).over(totW))
    }
    valueTotals.foreach { case (vOut, tOut) =>
      val i = values.indexWhere(_._2 == vOut)
      require(i >= 0, s"valueTotals refers to unknown value output '$vOut'")
      offsets = offsets.withColumn(tOut, sum(col(s"__bs$i")).over(totW))
    }
    val keep = keyCols ++
      rankAs.map(_ => col("__offc")).toSeq ++
      values.indices.map(i => col(s"__offs$i")) ++
      countTotalAs.map(col).toSeq ++ valueTotals.map(t => col(t._2))
    // in-segment windows share one partitioning+ordering → one Window node
    val wIn = Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)
    val frame = wIn.rowsBetween(Window.unboundedPreceding,
      if (inclusive) 0 else -1)
    var out = df
    rankAs.foreach(_ => out = out.withColumn("__ir", row_number().over(wIn)))
    values.zipWithIndex.foreach { case ((v, _), i) =>
      out = out.withColumn(s"__iv$i", coalesce(sum(v).over(frame), lit(0L)))
    }
    out = out.join(broadcast(offsets.select(keep: _*)), keys)
    rankAs.foreach { r =>
      out = out.withColumn(r, (col("__offc") + col("__ir")).cast("long"))
        .drop("__offc", "__ir")
    }
    values.zipWithIndex.foreach { case ((_, name), i) =>
      out = out.withColumn(name, (col(s"__offs$i") + col(s"__iv$i")).cast("long"))
        .drop(s"__offs$i", s"__iv$i")
    }
    out
  }

  /** A BOUNDED monotone segment key for an integer column of arbitrary,
    * data-dependent magnitude (x191's trained-classifier score: an exact
    * BIGINT dot product whose scale depends on the training run — no
    * fixed `floor(v·k)` grain exists for it). The key is the magnitude's
    * (hex-digit-count, top-two-hex-digits) pair packed into one long,
    * sign-split — a floating-point-style (exponent, mantissa-prefix)
    * encoding built from exact string/integer ops only (hex → substring
    * → conv), so it is deterministic and needs no transcendentals:
    *
    *   v ≥ 0: seg =  len(hex(v))·256 + int(hex(v)[0:2])
    *   v < 0: seg = −(same over −v)
    *
    * Monotone non-decreasing: more hex digits ⇒ strictly larger key
    * (the top term ≤ 255 < 256); equal digit count ⇒ the 2-digit prefix
    * is a truncation, monotone within the length class. ≤ ~8k segments,
    * distributed by the magnitude's top byte. SegmentedRankSpec pins
    * monotonicity over adversarial and random longs. */
  def intSegment(v: Column): Column = {
    def mag(x: Column): Column = {
      val h = hex(x)
      (length(h).cast("long") * 256L +
        conv(substring(h, 1, 2), 16, 10).cast("long"))
    }
    when(v >= 0, mag(v)).otherwise(-mag(-v)).cast("long")
  }

  /** SQL NTILE(k) derived from the exact rank columns `r` and `n` that
    * [[withGlobalRank]] adds. Integer `div` throughout (Column has no
    * integer division; the SQL fragment keeps both engines' floor
    * semantics identical on these positive operands). */
  def ntileExpr(k: Int): Column = ntileExpr(k, "r", "n")

  /** NTILE(k) from any exact-rank/total column pair (x114's quintiles
    * pass its own names). */
  def ntileExpr(k: Int, rank: String, n: String): Column = expr(
    s"""CASE WHEN $rank <= ($n % $k) * (($n div $k) + 1)
       |  THEN ($rank - 1) div (($n div $k) + 1) + 1
       |  ELSE ($n % $k)
       |    + ($rank - ($n % $k) * (($n div $k) + 1) - 1)
       |        div greatest($n div $k, 1L) + 1
       |END""".stripMargin)
}
