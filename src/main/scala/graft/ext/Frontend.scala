package graft.ext

import graft.{Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** x187 — the FULL pretraining data front-end composed into one DAG
  * (r14 verdict board #7): the artifact a 100 TB run actually ships is
  * not any single filter's output but the SCHEDULE that survives the
  * whole chain. Stage order is the production order (cheap page-local
  * gates first, so everything that shuffles sees only survivors):
  *
  *   1. C4 page gate (x176's keep verdict)          — per-row expr
  *   2. Gopher dup-line gate (x170b's gate form)    — per-row expr
  *   3. exact dedup, keep-first (x1)                — one md5 hash-agg
  *   4. span decontamination vs the holdout (x182)  — gram join, drop dirty
  *   5. DSIR top-quarter selection (x177)           — over survivors
  *   6. temperature mix acceptance (x44/x170b)      — √-rate per lang
  *   7. curriculum order (x180)                     — per-source rank →
  *                                                    proportional interleave
  *
  * ONE corpus scan: the slim frame (ids, dims, per-row gate verdicts,
  * md5, quality score, token array) is projected out of a single read
  * of `documents` and checkpointed; every later stage — including the
  * trigram and bigram explodes — reads the checkpoint, never the
  * parquet (PlanSpec pins zero file scans in the final plan, x170b's
  * pin). Layered projections keep the multiply-referenced line arrays
  * as attributes (the r14 interpreted-HOF lesson: inlining them under
  * the gates' lambda references re-evaluates the split→slice→sort per
  * element, measured ~9×).
  *
  * Semantics note: each stage applies to the PREVIOUS stage's
  * survivors — so DSIR's ratio model and the mix rates are fitted on
  * the gated/deduped/clean population (what production does: you don't
  * fit selection models on spam you already dropped), x182's holdout
  * gram table still comes from the FULL holdout split (benchmarks are
  * never gated), and docs with <2 tokens are unscoreable by DSIR and
  * exit there (documented x177 behavior). The x181 ablation grid is
  * the tool that says which of these gates is redundant on a given
  * corpus; this DAG is the composition you ship after reading it.
  *
  * Scale shape: stages 1–2 ride the scan; stage 3 is one (16-byte key)
  * hash-agg + keyed join; stage 4 is x182's gram-keyed join (at 100 TB
  * the holdout side is a broadcast semi-join); stage 5 is x177's
  * (doc, bucket) shuffle + broadcast ratio table + segmented rank;
  * stage 6 is a broadcast ≤|langs|-row rate table + map-side accept;
  * stage 7 is x180's two segmented scans. Nothing ever re-reads text
  * after the first projection, and no stage sorts the corpus in one
  * partition. */
object Frontend {

  // ---- Shared building blocks ---------------------------------------
  // ONE definition of each stage, consumed by the batch DAG (x187/x187b)
  // AND by graft.streaming.FrontendFeed's state-backed views — the
  // feed's increment≡batch bit-equality contract rides on these being
  // literally the same expression trees (the Dsir/DsirFeed discipline).

  /** THE one-corpus-scan slim frame (layered projections — the r14
    * interpreted-HOF lesson): per-doc ids, dims, gate verdicts, md5,
    * quality score, token array + its length. Callers checkpoint. */
  private[graft] def slimFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        split(col("text"), " ").as("ts"))
      .withColumn("lines", TextStats.lineArrayOf(col("ts")))
      .withColumn("ls", array_sort(col("lines")))
      .select(col("doc_id"), col("source"), col("lang"), col("ts"),
        size(col("ts")).cast("long").as("n_ts"),
        (size(array_distinct(col("ts"))).cast("double") / size(col("ts")))
          .as("qscore"),
        md5(col("text")).as("h"),
        Curation.holdoutCol.as("holdout"),
        TextStats.c4KeepExpr(col("text"), col("lines")).as("c4k"),
        Dedup.gateFromSorted(col("ls")).as("gpass"))

  /** Stage-3 state: the per-hash min-doc_id table over gate survivors —
    * a pure MIN, mergeable over any batch split (FrontendFeed folds its
    * per-batch partials with the same min). */
  private[graft] def hashMin(gated: DataFrame): DataFrame =
    gated.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))

  /** Stage-3 read: keep-first exact dedup given the (h, keep) table. */
  private[graft] def dedupKeepFirst(gated: DataFrame, hmin: DataFrame): DataFrame =
    gated.join(hmin, "h").filter(col("doc_id") === col("keep"))
      .drop("h", "keep")

  /** Positioned-trigram rows (doc_id, i, g) of a (doc_id, ts, ...)
    * frame — the explode feeding both coverage sides. */
  private[graft] def trigramRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Curation.trigramsCol(col("ts"))).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.g").as("g"))

  /** The distinct holdout gram set of a slim frame — the benchmark side
    * of stage 4 (never gated; x182's posture). */
  private[graft] def holdoutGrams(slim: DataFrame): DataFrame =
    slim.filter(col("holdout"))
      .select(explode(Curation.trigramsCol(col("ts"))).as("p"))
      .select(col("p.g").as("g")).distinct()

  /** Stage-4 coverage core: distinct covered positions (doc_id, j) from
    * positioned train trigrams × the holdout gram set — a pure join of
    * two monotone sets, so the union over any batch split of either
    * side equals the batch answer (FrontendFeed's coverage store). */
  private[graft] def coveredPositions(trainGrams: DataFrame,
      holdGrams: DataFrame): DataFrame =
    trainGrams
      .join(holdGrams, "g")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 2)).as("j"))
      .distinct()

  /** Stage-4 read: the dirty filter given per-doc covered counts
    * (doc_id, covered) — x182's integer threshold over `n_ts`. */
  private[graft] def cleanFilter(deduped: DataFrame, cov: DataFrame): DataFrame =
    deduped.join(cov, Seq("doc_id"), "left")
      .filter(!(lit(Curation.DirtyDen) * coalesce(col("covered"), lit(0L))
        > lit(Curation.DirtyNum) * col("n_ts")))
      .drop("covered")

  /** Stages 5+6 read: DSIR top-quarter + temperature-mix acceptance over
    * the clean survivors, given their per-(doc, lang, bucket) bigram
    * counts `db` (stage 5 calls the shared [[Dsir.ratioTable]] /
    * [[Dsir.scoreDocBuckets]] blocks — r15 advice #3: no re-inlined
    * arithmetic to desynchronize). Returns (selected, accepted);
    * `selected` is checkpointed (read by the mix agg, the accept join,
    * and x187b). */
  private[graft] def selectAndMix(clean: DataFrame,
      db: DataFrame): (DataFrame, DataFrame) = {
    val cr = db.groupBy(col("b")).agg(sum(col("c")).cast("long").as("cr"))
    val ct = db.filter(col("lang") === "en")
      .groupBy(col("b")).agg(sum(col("c")).cast("long").as("ct"))
    val tot = db.agg(
      coalesce(sum(col("c")), lit(0L)).cast("long").as("nr"),
      coalesce(sum(when(col("lang") === "en", col("c"))), lit(0L))
        .cast("long").as("nt"))
    val scored = Dsir.scoreDocBuckets(
        db.select(col("doc_id"), col("b"), col("c")),
        Dsir.ratioTable(cr, ct, tot))
      .select(col("doc_id"), col("score").as("dscore"))
    val ranked = SegmentedRank.withGlobalRank(scored,
      floor(col("dscore") * 1024).cast("long"), Seq(col("dscore"), col("doc_id")))
    val selIds = ranked
      .filter(col("r") > col("n") - expr("(n + 3) div 4"))
      .select(col("doc_id"), col("dscore"))
    val selected = clean.join(selIds, "doc_id")
      .materialized // read by the mix agg, the accept join, and x187b
    val accepted = selected
      .join(Sampling.temperaturePipeline(selected.select(col("doc_id"), col("lang")))
        .filter(col("kept")).select(col("doc_id")), "doc_id")
    (selected, accepted)
  }

  /** Stage 7: x180's curriculum order over the accepted set (grouped
    * rank per source, then the proportional-interleave global rank —
    * both as SegmentedRank segmented scans, no single-partition
    * window). The shipped schedule. */
  private[graft] def curriculum(accepted: DataFrame): DataFrame = {
    val base = accepted
      .select(col("doc_id"), col("source"), col("lang"), col("qscore"))
      .withColumn("negscore", -col("qscore"))
      .withColumn("seg", floor(col("negscore") * 4096).cast("long"))
    val ranked = SegmentedRank.withGroupedRank(base, Seq("source"), "seg",
      Seq(col("negscore"), col("doc_id")), "src_rank")
    val sizes = base.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_src"))
    val prio = ranked.join(broadcast(sizes), "source")
      .select(col("doc_id"), col("source"), col("lang"), col("qscore"),
        (col("src_rank").cast("double") / col("n_src").cast("double")).as("priority"))
    SegmentedRank.withGlobalRank(prio,
        floor(col("priority") * 4096).cast("long"),
        Seq(col("priority"), col("doc_id")))
      .select(col("doc_id"), col("source"), col("lang"),
        col("qscore").as("score"), col("r").cast("long").as("position"))
      .orderBy(col("doc_id"))
  }

  /** Stage frames of the composed pipeline, shared by x187 (schedule)
    * and x187b (funnel telemetry): (train, gated, deduped, clean,
    * selected, accepted). `clean` and later are checkpointed — they are
    * each read by several consumers. */
  private def stages(s: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame) = {
    // THE one corpus scan → checkpointed slim frame (layered projections).
    // The conditional post-scan repartition keeps the slimFrame map work
    // AND every consumer stage over the checkpoint (trigram/bigram
    // explodes) off the single task an unsplittable one-file scan yields
    // (Tables.withScanParallelism; no-op on splittable layouts).
    val slim = slimFrame(
      Tables.withScanParallelism(s, Tables.documents(s, dir))).materialized
    val train = slim.filter(!col("holdout"))
    // stages 1+2: the page-local gates
    val gated = train.filter(col("c4k") && col("gpass"))
    // stage 3: exact dedup among gate survivors, keep-first
    val deduped = dedupKeepFirst(gated, hashMin(gated))
      .select(col("doc_id"), col("source"), col("lang"), col("ts"),
        col("n_ts"), col("qscore"))
    // stage 4: span decontamination (x182's trigram coverage, drop dirty);
    // the holdout gram table comes from the full holdout split
    val cov = coveredPositions(trigramRows(deduped), holdoutGrams(slim))
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("covered"))
    val clean = cleanFilter(deduped, cov)
      .materialized // read by the DSIR explode, the join-back, and x187b
    // stage 5 input: the clean survivors' per-(doc, lang, bucket) bigram
    // counts — the shared Dsir occurrence explode over the checkpointed
    // token arrays (attributes, never re-inlined subtrees)
    val db = Dsir.occurrencesFromTokens(
        clean.select(col("doc_id"), col("lang"), col("ts")))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
    val (selected, accepted) = selectAndMix(clean.drop("ts"), db)
    (train, gated, deduped, clean, selected, accepted)
  }

  /** Shared oracle CTE chain ending in `ac` (the accepted set with
    * source/lang/qscore) — the DuckDB twin of [[stages]]. */
  private def frontendCtes: String =
    s"""d0 AS (
       |  SELECT doc_id, source, lang, text, string_split(text, ' ') AS ts
       |  FROM documents),
       |d1 AS (
       |  SELECT *, list_transform(
       |      generate_series(0, (len(ts) + ${TextStats.LineLen - 1}) // ${TextStats.LineLen} - 1),
       |      k -> array_to_string(
       |        ts[k*${TextStats.LineLen}+1 : k*${TextStats.LineLen}+${TextStats.LineLen}], ' ')) AS lines
       |  FROM d0),
       |d1b AS (SELECT *, list_sort(lines) AS ls FROM d1),
       |d2 AS MATERIALIZED (
       |  SELECT doc_id, source, lang, ts,
       |    CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS qscore,
       |    md5(text) AS h,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       |      THEN 1 ELSE 0 END AS holdout,
       |    CASE WHEN ${TextStats.c4KeepPredSql}
       |      THEN 1 ELSE 0 END AS c4k,
       |    CASE WHEN ${Dedup.GateDupDen} * len(list_filter(generate_series(1, len(ls)),
       |        i -> ls[i] = ls[i-1] OR ls[i] = ls[i+1]))
       |      <= ${Dedup.GateDupNum} * len(ls) THEN 1 ELSE 0 END AS gpass
       |  FROM d1b),
       |tr AS MATERIALIZED (SELECT * FROM d2 WHERE holdout = 0),
       |g AS MATERIALIZED (SELECT * FROM tr WHERE c4k = 1 AND gpass = 1),
       |sv AS (SELECT h, MIN(doc_id) AS keep FROM g GROUP BY 1),
       |dd AS MATERIALIZED (
       |  SELECT g.doc_id, g.source, g.lang, g.ts, g.qscore
       |  FROM g JOIN sv ON g.h = sv.h AND g.doc_id = sv.keep),
       |hold AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(ts) - 2),
       |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gm
       |  FROM d2 WHERE holdout = 1),
       |tgf AS (
       |  SELECT doc_id, i, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gm
       |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
       |        FROM dd WHERE len(ts) >= 3)),
       |cov AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(DISTINCT j) AS BIGINT) AS covered
       |  FROM (SELECT tgf.doc_id, unnest(generate_series(tgf.i, tgf.i + 2)) AS j
       |        FROM tgf JOIN hold USING (gm))
       |  GROUP BY 1),
       |cl AS MATERIALIZED (
       |  SELECT dd.* FROM dd LEFT JOIN cov USING (doc_id)
       |  WHERE NOT (${Curation.DirtyDen} * COALESCE(cov.covered, 0)
       |    > ${Curation.DirtyNum} * len(dd.ts))),
       |hb AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(ts[i] || ' ' || ts[i+1]), 1, 15))::BIGINT
       |      % ${Dsir.Buckets} AS b
       |  FROM (SELECT doc_id, lang, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       |        FROM cl)),
       |cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM hb GROUP BY 1),
       |ctt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM hb
       |        WHERE lang = 'en' GROUP BY 1),
       |tt AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nr,
       |    CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS nt
       |  FROM hb),
       |rt AS (
       |  SELECT cr.b,
       |    CAST((COALESCE(ctt.ct, 0) + 1) * (tt.nr + ${Dsir.Buckets}) AS DOUBLE)
       |      / CAST((tt.nt + ${Dsir.Buckets}) * (cr.cr + 1) AS DOUBLE) AS r
       |  FROM cr LEFT JOIN ctt USING (b) CROSS JOIN tt),
       |sdoc AS (
       |  SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_feats,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(CAST(db.c AS DOUBLE) * rt.r ORDER BY db.b)), (a, x) -> a + x) AS sp
       |  FROM (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM hb GROUP BY 1, 2) db
       |  JOIN rt USING (b) GROUP BY 1),
       |rk AS MATERIALIZED (
       |  SELECT doc_id, sp / n_feats AS dscore,
       |    ROW_NUMBER() OVER (ORDER BY sp / n_feats, doc_id) AS rnk,
       |    COUNT(*) OVER () AS nn
       |  FROM sdoc),
       |sl AS MATERIALIZED (
       |  SELECT cl.*, rk.dscore FROM cl JOIN rk USING (doc_id)
       |  WHERE rk.rnk > rk.nn - (rk.nn + 3) // 4),
       |lcnt AS (SELECT lang, COUNT(*) AS nl FROM sl GROUP BY 1),
       |rr AS (SELECT lang,
       |    sqrt(CAST((SELECT MIN(nl) FROM lcnt) AS DOUBLE) / nl) AS rate
       |  FROM lcnt),
       |ac AS MATERIALIZED (
       |  SELECT sl.* FROM sl JOIN rr USING (lang)
       |  WHERE (CAST(((sl.doc_id % ${Sampling.SamplePrime}) * ${Sampling.KnuthModP})
       |      % ${Sampling.SamplePrime} AS DOUBLE) / ${Sampling.SamplePrime})
       |    < rr.rate)""".stripMargin

  /** x187: the shipped training schedule — every doc that survives the
    * whole front-end, with x180's curriculum position. */
  val pretrainFrontend: Q = Q.withOracle(
    "x187_pretrain_frontend",
    "x187: composed pretrain front-end (C4 -> Gopher -> dedup -> decontam -> DSIR -> mix -> curriculum)",
    s"""WITH $frontendCtes,
       |r2 AS (
       |  SELECT doc_id, source, lang, qscore,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY qscore DESC, doc_id) AS BIGINT) AS src_rank,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |  FROM ac),
       |p2 AS (
       |  SELECT doc_id, source, lang, qscore,
       |    CAST(src_rank AS DOUBLE) / n_src AS priority
       |  FROM r2)
       |SELECT doc_id, source, lang, qscore AS score,
       |  CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT) AS position
       |FROM p2 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (_, _, _, _, _, accepted) = stages(s, dir)
    curriculum(accepted)
  }

  /** x187b: the per-source funnel — how many docs each stage keeps.
    * The number a curation team reads next to the x181 ablation grid:
    * which source loses its mass at which gate. Recomputes the stage
    * frames (the x48-recomputes-x16 registry posture) and takes six
    * bounded per-source hash aggs. */
  val frontendFunnel: Q = Q.withOracle(
    "x187b_frontend_funnel",
    "x187b: per-source survivor counts through every front-end stage",
    s"""WITH $frontendCtes,
       |f0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train FROM tr GROUP BY 1),
       |f1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gated FROM g GROUP BY 1),
       |f2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dedup FROM dd GROUP BY 1),
       |f3 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clean FROM cl GROUP BY 1),
       |f4 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected FROM sl GROUP BY 1),
       |f5 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_accepted FROM ac GROUP BY 1)
       |SELECT f0.source, f0.n_train,
       |  CAST(COALESCE(f1.n_gated, 0) AS BIGINT) AS n_gated,
       |  CAST(COALESCE(f2.n_dedup, 0) AS BIGINT) AS n_dedup,
       |  CAST(COALESCE(f3.n_clean, 0) AS BIGINT) AS n_clean,
       |  CAST(COALESCE(f4.n_selected, 0) AS BIGINT) AS n_selected,
       |  CAST(COALESCE(f5.n_accepted, 0) AS BIGINT) AS n_accepted
       |FROM f0
       |LEFT JOIN f1 USING (source) LEFT JOIN f2 USING (source)
       |LEFT JOIN f3 USING (source) LEFT JOIN f4 USING (source)
       |LEFT JOIN f5 USING (source)
       |ORDER BY f0.source""".stripMargin) { (s, dir) =>
    val (train, gated, deduped, clean, selected, accepted) = stages(s, dir)
    funnelFrom(train, gated, deduped, clean, selected, accepted)
  }

  /** The per-source funnel aggregation over the six stage frames —
    * shared by x187b and [[graft.streaming.FrontendFeed.funnel]]. */
  private[graft] def funnelFrom(train: DataFrame, gated: DataFrame,
      deduped: DataFrame, clean: DataFrame, selected: DataFrame,
      accepted: DataFrame): DataFrame = {
    def cnt(df: DataFrame, name: String): DataFrame =
      df.groupBy(col("source")).agg(count(lit(1)).cast("long").as(name))
    cnt(train, "n_train")
      .join(cnt(gated, "n_gated"), Seq("source"), "left")
      .join(cnt(deduped, "n_dedup"), Seq("source"), "left")
      .join(cnt(clean, "n_clean"), Seq("source"), "left")
      .join(cnt(selected, "n_selected"), Seq("source"), "left")
      .join(cnt(accepted, "n_accepted"), Seq("source"), "left")
      .select(col("source"), col("n_train"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("n_accepted"), lit(0L)).as("n_accepted"))
      .orderBy(col("source"))
  }

  val all: Seq[Q] = Seq(pretrainFrontend, frontendFunnel)
}
