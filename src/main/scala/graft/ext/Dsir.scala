package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): select raw-corpus documents that look like a target
  * distribution by scoring each doc under hashed n-gram bag models of
  * target vs raw and keeping the top of the importance ranking. The
  * production recipe behind "train on web data that looks like
  * Wikipedia": cheap bag-of-hashed-ngrams models stand in for real LMs,
  * so selection runs at scan speed over the whole crawl.
  *
  * Fidelity vs exactness (both divergences follow this repo's standing
  * discipline, not convenience):
  *   - the paper scores log p_target(x) − log p_raw(x) = Σ log-ratios;
  *     libm `log` is not bit-portable across engines (the x18/x40/x172
  *     rule: no transcendentals in an oracled path), so the score here
  *     is the arithmetic MEAN of the per-occurrence probability ratios
  *     p_t(b)/p_r(b) — every term an exact-integer-products-to-double
  *     with one correctly-rounded division, folded in pinned bucket
  *     order (the x40 ordered fold), and the mean removes the doc-length
  *     bias a raw sum would add;
  *   - the paper's Gumbel-top-k sampling step is replaced by the
  *     deterministic top-⌈n/4⌉ of the (score, doc_id) total order (the
  *     x19 determinism rule — stable across engines and runs).
  *
  * Scale shape: one bigram-occurrence pass feeds THREE bounded hash aggs
  * (per-bucket raw counts, per-bucket target counts, the scalar totals —
  * all ≤ [[Dsir.Buckets]] rows), the ratio table broadcasts back onto
  * the per-(doc, bucket) agg (map-side combinable: every exploded row of
  * a doc is generated from its one input row), and the global rank runs
  * as a SegmentedRank segmented scan — no single-partition window, no
  * corpus-wide sort on any executor. At 100 TB: one shuffle on
  * (doc, bucket), one on the score-segment key.
  */
object Dsir {

  /** Hashed-feature space size. The paper uses 10k buckets for full
    * CommonCrawl; 256 keeps the smoothed ratio table broadcast-tiny and
    * well-populated at every test SF while exercising the identical
    * plan. Bucket ids come from the repo's cross-engine md5 hash. */
  private[ext] val Buckets = 256

  /** Smoothed probability-ratio numerator/denominator products stay in
    * exact BIGINT up to ~3e9 bigram occurrences (product < 2^63), far
    * above any single-partition test scale; at true corpus scale the
    * count tables would be per-shard longs merged exactly (pure sums). */
  /** The DSIR scoring oracle CTE prefix — everything up to `sc` (per-doc
    * mean importance ratios). Shared verbatim by x177 and x191 (wrapped
    * in a subquery there to isolate CTE names) so a consumer can never
    * desynchronize from the score it consumes. */
  private[graft] def dsirOracleCtes: String =
    s"""d AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
       |pos AS (
       |  SELECT doc_id, lang, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |  FROM d),
       |hb AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(ts[i] || ' ' || ts[i+1]), 1, 15))::BIGINT % $Buckets AS b
       |  FROM pos),
       |cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM hb GROUP BY 1),
       |ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM hb
       |       WHERE lang = 'en' GROUP BY 1),
       |tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
       |    CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS nt
       |  FROM hb),
       |r AS (
       |  SELECT cr.b,
       |    CAST((COALESCE(ct.ct, 0) + 1) * (tot.nr + $Buckets) AS DOUBLE)
       |      / CAST((tot.nt + $Buckets) * (cr.cr + 1) AS DOUBLE) AS r
       |  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
       |db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM hb GROUP BY 1, 2),
       |s AS (
       |  SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_feats,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(db.c AS DOUBLE) * r.r ORDER BY db.b)), (a, x) -> a + x) AS sp
       |  FROM db JOIN r USING (b) GROUP BY 1),
       |sc AS (SELECT doc_id, n_feats, sp / n_feats AS score FROM s)""".stripMargin

  /** The full-selection oracle CTE prefix ending in `dsel` (one row per
    * universe doc: doc_id, n_feats, score, selected) — [[dsirOracleCtes]]
    * plus the quota rank and the universe left join. Shared by x177 and
    * x186b (r15 advice: the census composes this CTE chain instead of
    * string-editing the final ORDER BY out of the full oracle). */
  private[graft] def dsirSelectCtes: String =
    s"""$dsirOracleCtes,
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rnk,
       |    COUNT(*) OVER () AS n
       |  FROM sc),
       |dsel AS (
       |  SELECT d.doc_id, CAST(COALESCE(rk.n_feats, 0) AS BIGINT) AS n_feats,
       |    rk.score,
       |    CAST(CASE WHEN rk.rnk > rk.n - (rk.n + 3) // 4 THEN 1 ELSE 0 END AS BIGINT)
       |      AS selected
       |  FROM (SELECT doc_id FROM documents) d
       |  LEFT JOIN rk ON d.doc_id = rk.doc_id)""".stripMargin

  val dsirSelect: Q = Q.withOracle(
    "x177_dsir_select",
    "x177: DSIR hashed-bigram importance scoring + deterministic top-quarter selection",
    s"""WITH $dsirSelectCtes
       |SELECT doc_id, n_feats, score, selected
       |FROM dsel ORDER BY doc_id""".stripMargin) { (s, dir) =>
    selectTail(scored(s, dir), Tables.documents(s, dir).select(col("doc_id")))
  }

  // ---- Shared building blocks -------------------------------------
  // ONE definition of each scoring stage, consumed by the batch query
  // (x177/x191) AND by graft.streaming.DsirFeed's state-backed views —
  // the feed's increment≡batch bit-equality contract rides on these
  // being literally the same expression trees.

  /** (doc_id, lang, b) per bigram occurrence — the one corpus explode. */
  private[graft] def occurrences(docs: DataFrame): DataFrame =
    occurrencesFromTokens(docs.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("ts")))

  /** [[occurrences]] over a frame that already carries the token array
    * as an ATTRIBUTE `ts` (the r14 HOF rule: an inlined split under the
    * zip_with lambda re-evaluates per element) — shared by x187's
    * composed front-end, which explodes its checkpointed slim frame. */
  private[graft] def occurrencesFromTokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), explode(
        filter(zip_with(col("ts"), slice(col("ts"), lit(2), size(col("ts"))),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
          p => p.getField("w2").isNotNull)).as("p"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat_ws(" ", col("p.w1"), col("p.w2"))), 1, 15),
          16, 10).cast("long") % Buckets).as("b"))

  /** ≤Buckets-row smoothed ratio table from per-bucket raw counts
    * (b, cr), target counts (b, ct — left-joined, absent ⇒ 0), and the
    * 1-row totals (nr, nt): exact integer products, one division. */
  private[graft] def ratioTable(cr: DataFrame, ct: DataFrame,
      tot: DataFrame): DataFrame =
    cr.join(ct, Seq("b"), "left")
      .crossJoin(broadcast(tot)) // one scalar row
      .select(col("b"),
        (((coalesce(col("ct"), lit(0L)) + 1L) * (col("nr") + Buckets)).cast("double") /
          ((col("nt") + Buckets) * (col("cr") + 1L)).cast("double")).as("r"))

  /** Per-doc mean importance ratio from the (doc_id, b, c) bucket-count
    * table and the broadcast ratio table — folded in pinned bucket
    * order (the x40 fold). */
  private[graft] def scoreDocBuckets(db: DataFrame, ratio: DataFrame): DataFrame =
    db.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_feats"),
        array_sort(collect_list(struct(col("b"),
          (col("c").cast("double") * col("r")).as("t")))).as("ps"))
      .select(col("doc_id"), col("n_feats"),
        (aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("t")) /
          col("n_feats")).as("score"))

  /** The deterministic top-⌈n/4⌉ selection over a scored frame, rejoined
    * to the full doc universe: SegmentedRank global rank (segment =
    * floor(score·1024), monotone in score and bounded since
    * score ≤ (nr+B)/(nt+B) — target ⊆ raw), x19's (score, doc_id) total
    * order. One row per UNIVERSE doc (r14 advice): docs with <2 tokens
    * produce no bigrams and so no score — they re-enter with n_feats=0,
    * score NULL, selected=0; the quota deliberately ranks only scoreable
    * docs (an unscoreable doc can't be "like the target"). */
  private[graft] def selectTail(scoredDocs: DataFrame,
      universe: DataFrame): DataFrame = {
    val sel = SegmentedRank.withGlobalRank(scoredDocs,
      floor(col("score") * 1024).cast("long"), Seq(col("score"), col("doc_id")))
      .withColumn("selected",
        when(col("r") > col("n") - expr("(n + 3) div 4"), 1L).otherwise(0L))
      .select(col("doc_id"), col("n_feats"), col("score"), col("selected"))
    universe
      .join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"), col("score"),
        coalesce(col("selected"), lit(0L)).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** The x177 scoring frame — (doc_id, n_feats, score) over every
    * ≥2-token doc, unordered — for operators that compose the DSIR
    * importance score (x186b's census, x191's signal panel). The
    * deterministic top-⌈n/4⌉ SELECTION stays in [[dsirSelect]]: the
    * score is the reusable primitive, the quota is x177's policy. */
  private[graft] def scored(s: SparkSession, dir: String): DataFrame = {
    val hb = occurrences(Tables.documents(s, dir))
    val cr = hb.groupBy(col("b")).agg(count(lit(1)).cast("long").as("cr"))
    val ct = hb.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).cast("long").as("ct"))
    val tot = hb.agg(count(lit(1)).cast("long").as("nr"),
      count(when(col("lang") === "en", 1)).cast("long").as("nt"))
    val db = hb.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
    scoreDocBuckets(db, ratioTable(cr, ct, tot))
  }

  val all: Seq[Q] = Seq(dsirSelect)
}
