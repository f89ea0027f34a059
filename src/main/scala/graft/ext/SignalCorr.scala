package graft.ext

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** x191: quality-signal rank-correlation panel — the filter-redundancy
  * analysis a production curation pipeline runs before composing gates
  * (the FineWeb/Dolma ablation question: "are my quality signals
  * measuring the same thing, and is any of them secretly just a length
  * filter?"). Pairwise Spearman rank correlation over one joined panel
  * of five per-document signals, each reused from its own operator so
  * the panel can never drift from the signals it correlates:
  *
  *   - `len`  — token count (the confound every length-biased filter
  *     degenerates into; FineWeb's ablations check exactly this),
  *   - `heur` — x8/x25's distinct-token-ratio heuristic
  *     ([[Curation.qualityScore]]),
  *   - `lm`   — x172's Kneser–Ney mean bigram probability
  *     ([[Corpus.knScored]]),
  *   - `dsir` — x177's hashed-bigram importance ratio ([[Dsir.scored]]),
  *   - `clf`  — x186's TRAINED averaged-perceptron quality score
  *     ([[Classifier.scoredFrame]]) — the fifth production signal (r15
  *     verdict board #2: the trained filter joins the redundancy panel,
  *     completing the FineWeb-style ablation at 10 pairs).
  *
  * Universe: documents with ≥2 tokens (the LM and DSIR signals are
  * defined over bigrams; Spearman needs complete cases). Ranks follow
  * the repo's x117 convention — exact permutations under the
  * deterministic (signal, doc_id) tiebreak, so the classic
  * 1 − 6·Σd²/(n(n²−1)) closed form applies verbatim and every output
  * double is one identical expression over exact BIGINT inputs.
  *
  * Scale shape: each signal is its own linear pass (x172's three keyed
  * LM shuffles dominate; DSIR's explode feeds bounded bucket aggs); the
  * five exact global ranks run as [[SegmentedRank]] segmented scans (no
  * single-partition corpus sort — at 100 TB a global ROW_NUMBER window
  * is the one forbidden shape); the finale is ONE keyless agg (map-side
  * combined) carrying all ten Σd² terms, unpivoted over a 10-row literal
  * axis. Σd² < n³ fits BIGINT to n ≈ 2.1e6 ranked docs (the x117
  * headroom note); past that, emit decimal(38,0) and finish client-side. */
object SignalCorr {

  /** The signal pairs, alphabetical within and across — the ONE list
    * both the Spark aggregation and the oracle SQL are generated from
    * (the r14-advice discipline: a shared list cannot desynchronize). */
  private val Pairs = Seq(
    ("clf", "dsir"), ("clf", "heur"), ("clf", "len"), ("clf", "lm"),
    ("dsir", "heur"), ("dsir", "len"), ("dsir", "lm"),
    ("heur", "len"), ("heur", "lm"), ("len", "lm"))

  private def rhoSql(n: String, d2: String): String =
    s"""CASE WHEN $n > 1 THEN
       |    1.0 - 6.0 * CAST($d2 AS DOUBLE)
       |      / (CAST($n AS DOUBLE)
       |         * (CAST($n AS DOUBLE) * CAST($n AS DOUBLE) - 1.0))
       |  END""".stripMargin

  /** The signal-panel oracle CTE prefix (`u`..`r`: the joined 5-signal
    * panel with exact tie-broken ranks and the panel size `n`) — shared
    * by x191 and x191b so the two views of the panel can never drift. */
  private def panelOracleCtes: String =
    s"""u AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
       |    ${Curation.qualityScoreSql} AS heur
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |lmq AS (SELECT doc_id, score AS lm FROM
       |  (WITH ${Corpus.knOracleCtes}
       |   SELECT doc_id, sp / n_bigrams AS score FROM s)),
       |dsq AS (SELECT doc_id, score AS dsir FROM
       |  (WITH ${Dsir.dsirOracleCtes}
       |   SELECT doc_id, score FROM sc)),
       |cfq AS (SELECT doc_id, score AS clf FROM
       |  (WITH RECURSIVE ${Classifier.clfOracleCtes}
       |   SELECT doc_id, score FROM csc)),
       |j AS (SELECT u.doc_id, u.len, u.heur, lmq.lm, dsq.dsir, cfq.clf
       |      FROM u JOIN lmq USING (doc_id) JOIN dsq USING (doc_id)
       |      JOIN cfq USING (doc_id)),
       |r AS (SELECT
       |    ROW_NUMBER() OVER (ORDER BY len, doc_id) AS r_len,
       |    ROW_NUMBER() OVER (ORDER BY heur, doc_id) AS r_heur,
       |    ROW_NUMBER() OVER (ORDER BY lm, doc_id) AS r_lm,
       |    ROW_NUMBER() OVER (ORDER BY dsir, doc_id) AS r_dsir,
       |    ROW_NUMBER() OVER (ORDER BY clf, doc_id) AS r_clf,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM j)""".stripMargin

  private def signalCorrOracle: String = {
    val d2Terms = Pairs.map { case (a, b) =>
      s"""CAST(SUM(CAST(r_$a - r_$b AS DECIMAL(18,0))
         |      * CAST(r_$a - r_$b AS DECIMAL(18,0))) AS BIGINT) AS d2_${a}_$b"""
        .stripMargin
    }.mkString(",\n    ")
    val unions = Pairs.map { case (a, b) =>
      s"SELECT '${a}_vs_$b' AS pair, n_docs, d2_${a}_$b AS sum_d2 FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH $panelOracleCtes,
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    $d2Terms
       |  FROM r),
       |p AS (
       |  $unions)
       |SELECT pair, n_docs, sum_d2,
       |  ${rhoSql("n_docs", "sum_d2")} AS rho
       |FROM p ORDER BY pair""".stripMargin
  }

  val signalCorrelation: Q = Q.withOracle(
    "x191_signal_correlation",
    "x191: pairwise Spearman panel over the len/heuristic/LM/DSIR/classifier quality signals (segmented exact ranks, one keyless agg)",
    signalCorrOracle) { (s, dir) =>
    val ranked = rankedPanel(s, dir)
    // ONE keyless agg carries n and all ten Σd² terms
    val d2Aggs = Pairs.map { case (a, b) =>
      val d = (col(s"r_$a") - col(s"r_$b")).cast("decimal(18,0)")
      sum(d * d).cast("long").as(s"d2_${a}_$b")
    }
    val aggRow = ranked.agg(
      count(lit(1)).cast("long").as("n_docs"), d2Aggs: _*)
    val nD = col("n_docs").cast("double")
    aggRow
      .select(col("n_docs"), explode(array(Pairs.map { case (a, b) =>
        struct(lit(s"${a}_vs_$b").as("pair"),
          col(s"d2_${a}_$b").as("sum_d2"))
      }: _*)).as("p"))
      .select(col("p.pair").as("pair"), col("n_docs"),
        col("p.sum_d2").as("sum_d2"),
        when(col("n_docs") > 1,
          lit(1.0) - lit(6.0) * col("p.sum_d2").cast("double")
            / (nD * (nD * nD - 1.0))).as("rho"))
      .orderBy(col("pair"))
  }

  /** The joined 5-signal panel with exact tie-broken ranks (`r_len`,
    * `r_heur`, `r_lm`, `r_dsir`, `r_clf`) and the panel size `n` (the same value
    * on every row, from the bounded offsets table — not a corpus-wide
    * window). Shared by x191 and x191b. */
  private def rankedPanel(s: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    val base = Tables.documents(s, dir)
      .filter(size(t) >= 2)
      .select(col("doc_id"), size(t).cast("long").as("len"),
        Curation.qualityScore.as("heur"))
    val lm = Corpus.knScored(s, dir)
      .select(col("doc_id"), col("score").as("lm"))
    val ds = Dsir.scored(s, dir)
      .select(col("doc_id"), col("score").as("dsir"))
    val cf = Classifier.scoredFrame(s, dir)
      .select(col("doc_id"), col("score").as("clf"))
    // The slim panel (doc_id + five numerics) is checkpointed: the four
    // signal pipelines (x172's keyed LM shuffles, the DSIR explode, the
    // classifier train+inference) run ONCE, and the five rank passes ride
    // the materialized frame. Before r16 the nested rank chain re-derived
    // its offsets from the previous rank's output — 2^5 instantiations of
    // the whole panel subtree (3,408 physical operators, 340 parquet
    // scans at plan time).
    val joined = Materialize(base.join(lm, "doc_id").join(ds, "doc_id").join(cf, "doc_id"))
    // exact global rank per signal — one segmented scan each, never a
    // single-partition window, all five in ONE linear plan
    // (SegmentedRank.withGlobalRanks). Segments: len is its own
    // (data-bounded) segment; heur/lm live in (0,1] → floor(v·4096) (the
    // x25 grain); dsir is bounded by (nr+B)/(nt+B) → floor(v·1024) (the
    // x177 grain); clf is an exact BIGINT of training-dependent magnitude
    // → the (hex-length, top-byte) float-style key
    // (SegmentedRank.intSegment).
    SegmentedRank.withGlobalRanks(joined, Seq(
      (col("len"), Seq(col("len"), col("doc_id")), "r_len"),
      (floor(col("heur") * 4096).cast("long"),
        Seq(col("heur"), col("doc_id")), "r_heur"),
      (floor(col("lm") * 4096).cast("long"),
        Seq(col("lm"), col("doc_id")), "r_lm"),
      (floor(col("dsir") * 1024).cast("long"),
        Seq(col("dsir"), col("doc_id")), "r_dsir"),
      (SegmentedRank.intSegment(col("clf")),
        Seq(col("clf"), col("doc_id")), "r_clf")),
      countTotalAs = Some("n"))
  }

  private def topOverlapOracle: String = {
    val ovTerms = Pairs.map { case (a, b) =>
      s"""CAST(SUM(CASE WHEN r_$a > n - (n + 3) // 4
         |      AND r_$b > n - (n + 3) // 4 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS ov_${a}_$b""".stripMargin
    }.mkString(",\n    ")
    val unions = Pairs.map { case (a, b) =>
      s"SELECT '${a}_vs_$b' AS pair, n_docs, quota, ov_${a}_$b AS overlap FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH $panelOracleCtes,
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST((MAX(n) + 3) // 4 AS BIGINT) AS quota,
       |    $ovTerms
       |  FROM r),
       |p AS (
       |  $unions)
       |SELECT pair, n_docs, quota, overlap,
       |  CAST(overlap AS DOUBLE) / (2 * quota - overlap) AS jaccard,
       |  CAST(overlap AS DOUBLE) * n_docs / (quota * quota) AS lift
       |FROM p ORDER BY pair""".stripMargin
  }

  /** x191b: top-quartile keep-set overlap between the signal pairs —
    * the ACTIONABLE half of x191: rank correlation says two signals
    * agree globally; gating composition cares whether they keep the
    * SAME documents. For each pair, the top-⌈n/4⌉ keep sets (x177's
    * quota rule, applied per signal over the shared ranked panel) are
    * intersected: `overlap` (exact count), `jaccard`
    * (overlap/(2k−overlap)), and `lift` (overlap·n/k² — observed over
    * the k²/n expected under independent signals; 1.0 = unrelated
    * filters, 4.0 = identical keep sets at quarter quotas).
    *
    * Scale shape: x191's panel + ranks verbatim (shared frame), then
    * ONE keyless agg carrying all ten overlap counts (per-row keep
    * flags are integer comparisons against the broadcast-derived `n`)
    * and the 10-row literal unpivot. */
  val topOverlap: Q = Q.withOracle(
    "x191b_signal_top_overlap",
    "x191b: top-quartile keep-set overlap/jaccard/lift between the x191 signal pairs (shared ranked panel, one keyless agg)",
    topOverlapOracle) { (s, dir) =>
    val ranked = rankedPanel(s, dir)
    def keep(sig: String) =
      col(s"r_$sig") > col("n") - expr("(n + 3) div 4")
    val ovAggs = Pairs.map { case (a, b) =>
      sum(when(keep(a) && keep(b), 1L).otherwise(0L)).cast("long")
        .as(s"ov_${a}_$b")
    }
    val aggCols = count(lit(1)).cast("long").as("n_docs") +:
      expr("CAST((max(n) + 3) div 4 AS BIGINT)").as("quota") +: ovAggs
    val aggRow = ranked.agg(aggCols.head, aggCols.tail: _*)
    aggRow
      .select(col("n_docs"), col("quota"),
        explode(array(Pairs.map { case (a, b) =>
          struct(lit(s"${a}_vs_$b").as("pair"),
            col(s"ov_${a}_$b").as("overlap"))
        }: _*)).as("p"))
      .select(col("p.pair").as("pair"), col("n_docs"), col("quota"),
        col("p.overlap").as("overlap"),
        (col("p.overlap").cast("double") /
          (lit(2) * col("quota") - col("p.overlap"))).as("jaccard"),
        (col("p.overlap").cast("double") * col("n_docs") /
          (col("quota") * col("quota"))).as("lift"))
      .orderBy(col("pair"))
  }

  /** The four non-length signals — the pairs x191c partials out the
    * length confound from. */
  private val NonLen = Seq("clf", "dsir", "heur", "lm")
  private val PartialPairs =
    (for { i <- NonLen.indices; j <- (i + 1) until NonLen.size }
      yield (NonLen(i), NonLen(j))).toSeq

  private def d2Name(x: String, y: String): String = {
    val s = Seq(x, y).sorted; s"d2_${s.head}_${s.last}"
  }

  private def partialOracle: String = {
    val d2Terms = Pairs.map { case (a, b) =>
      s"""CAST(SUM(CAST(r_$a - r_$b AS DECIMAL(18,0))
         |      * CAST(r_$a - r_$b AS DECIMAL(18,0))) AS BIGINT) AS d2_${a}_$b"""
        .stripMargin
    }.mkString(",\n    ")
    def rhoFrom(x: String, y: String): String =
      s"""CASE WHEN n_docs > 1 THEN
         |      1.0 - 6.0 * CAST(${d2Name(x, y)} AS DOUBLE)
         |        / (CAST(n_docs AS DOUBLE)
         |           * (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - 1.0))
         |    END AS rho_${x}_$y""".stripMargin
    val rhoCols = (PartialPairs ++ NonLen.map(x => (x, "len")))
      .map { case (x, y) => rhoFrom(x, y) }.mkString(",\n    ")
    val unions = PartialPairs.map { case (a, b) =>
      s"""SELECT '${a}_vs_$b' AS pair, n_docs, rho_${a}_$b AS rho,
         |    rho_${a}_len AS rho_a_len, rho_${b}_len AS rho_b_len FROM rh"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $panelOracleCtes,
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    $d2Terms
       |  FROM r),
       |rh AS (SELECT n_docs,
       |    $rhoCols
       |  FROM a),
       |p AS (
       |  $unions)
       |SELECT pair, n_docs, rho, rho_a_len, rho_b_len,
       |  CASE WHEN (1.0 - rho_a_len * rho_a_len)
       |      * (1.0 - rho_b_len * rho_b_len) > 0.0
       |    THEN (rho - rho_a_len * rho_b_len)
       |      / sqrt((1.0 - rho_a_len * rho_a_len)
       |             * (1.0 - rho_b_len * rho_b_len)) END AS partial_rho
       |FROM p ORDER BY pair""".stripMargin
  }

  /** x191c: PARTIAL Spearman between the four content signals
    * CONTROLLING FOR LENGTH — the analysis x191 sets up: x191 found the
    * heuristic is a −0.98 length confound, so every raw pairwise rho is
    * contaminated by the shared length axis; the first-order partial
    * ρ_ab·len = (ρ_ab − ρ_al·ρ_bl) / √((1−ρ_al²)(1−ρ_bl²)) asks whether
    * two filters still agree once the confound is removed (the FineWeb
    * ablation's "is the residual signal real" follow-up). Six pairs
    * among {clf, dsir, heur, lm}.
    *
    * Exactness: every rho is the x191 closed form over exact BIGINT Σd²
    * terms; the partial adds only multiplication, subtraction, division,
    * and sqrt — all IEEE-correctly-rounded, so the identical expression
    * tree yields the identical double on both engines (the x86
    * sqrt precedent). Degenerate guard: |ρ·len| = 1 (a signal that IS
    * length) nulls the partial rather than dividing by zero.
    *
    * Scale shape: x191's panel + ranks + ONE keyless agg verbatim —
    * the partials are pure arithmetic on the 1-row agg and a 6-row
    * literal unpivot; zero additional corpus passes. */
  val partialSpearman: Q = Q.withOracle(
    "x191c_partial_spearman",
    "x191c: partial Spearman between the content signals controlling for length (closed form on the shared panel agg)",
    partialOracle) { (s, dir) =>
    val ranked = rankedPanel(s, dir)
    val d2Aggs = Pairs.map { case (a, b) =>
      val d = (col(s"r_$a") - col(s"r_$b")).cast("decimal(18,0)")
      sum(d * d).cast("long").as(s"d2_${a}_$b")
    }
    val aggRow = ranked.agg(
      count(lit(1)).cast("long").as("n_docs"), d2Aggs: _*)
    val nD = col("n_docs").cast("double")
    def rhoExpr(x: String, y: String) = when(col("n_docs") > 1,
      lit(1.0) - lit(6.0) * col(d2Name(x, y)).cast("double")
        / (nD * (nD * nD - 1.0)))
    val rh = aggRow.select(col("n_docs") +:
      (PartialPairs ++ NonLen.map(x => (x, "len"))).map { case (x, y) =>
        rhoExpr(x, y).as(s"rho_${x}_$y")
      }: _*)
    val den = (lit(1.0) - col("p.ral") * col("p.ral")) *
      (lit(1.0) - col("p.rbl") * col("p.rbl"))
    rh
      .select(col("n_docs"), explode(array(PartialPairs.map { case (a, b) =>
        struct(lit(s"${a}_vs_$b").as("pair"),
          col(s"rho_${a}_$b").as("rho"),
          col(s"rho_${a}_len").as("ral"),
          col(s"rho_${b}_len").as("rbl"))
      }: _*)).as("p"))
      .select(col("p.pair").as("pair"), col("n_docs"),
        col("p.rho").as("rho"),
        col("p.ral").as("rho_a_len"), col("p.rbl").as("rho_b_len"),
        when(den > 0.0,
          (col("p.rho") - col("p.ral") * col("p.rbl")) / sqrt(den))
          .as("partial_rho"))
      .orderBy(col("pair"))
  }

  val all: Seq[Q] = Seq(signalCorrelation, topOverlap, partialSpearman)
}
