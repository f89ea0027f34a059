package graft.ext

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators over `documents`: repetition signals,
  * benchmark decontamination, sequence packing, text normalization,
  * quality binning, and quality-weighted sampling — the curation stages of
  * a pretraining pipeline that sit between raw ingest and tokenization.
  *
  * Scale design (100 TB):
  * - x21/x24/x26 are pure per-document map/agg work: no cross-document
  *   shuffle at all (x21's aggregations are per-doc-key with map-side
  *   combine).
  * - x22 joins the train corpus against the *holdout's* distinct shingle
  *   set. In production that right side is a benchmark suite — a few
  *   thousand documents — so the join is a broadcast semi-join and the
  *   100 TB train side never shuffles. Here both sides derive from
  *   `documents`, so the optimizer picks; the train side still moves only
  *   (doc_id, 8-byte shingle hash) pairs, never text.
  * - x23's global prefix-sum uses a two-level segmented scan (per-bucket
  *   window + tiny bucket-offset table) instead of one ORDER BY the whole
  *   corpus: the only single-partition window runs over #buckets rows
  *   (≈ docs/256), and everything else is partitioned by bucket.
  * - x25's NTILE is the exact form (one global sort — fine for the
  *   "inspect a sample" use); x25b is the 100 TB form: approx_percentile
  *   sketch boundaries + a map-side bucket lookup, zero global sort.
  */
object Curation {

  /** x21: Gopher-style repetition signals — the fraction of the document
    * covered by its most frequent token and by its most frequent adjacent
    * bigram. High values flag boilerplate/spam for a quality filter.
    * Counts are exact; fractions are single IEEE divisions of those exact
    * counts (bit-identical across engines). */
  val repetition = Q.withOracle(
    "x21_repetition",
    "x21: repetition signals (top-token / top-bigram fractions)",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
      |tokc AS (
      |  SELECT doc_id, MAX(c) AS top_tok_n FROM (
      |    SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2)
      |  GROUP BY 1),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1])) AS b
      |  FROM toks),
      |bgc AS (
      |  SELECT doc_id, MAX(c) AS top_bigram_n FROM (
      |    SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |  tokc.top_tok_n,
      |  CAST(tokc.top_tok_n AS DOUBLE) / len(t.t) AS top_tok_frac,
      |  CAST(COALESCE(bgc.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
      |  CASE WHEN len(t.t) > 1
      |    THEN CAST(COALESCE(bgc.top_bigram_n, 0) AS DOUBLE) / (len(t.t) - 1)
      |  END AS top_bigram_frac
      |FROM toks t
      |JOIN tokc ON t.doc_id = tokc.doc_id
      |LEFT JOIN bgc ON t.doc_id = bgc.doc_id
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val tok = d.select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tk")))
    val tokc = tok.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_tok_n"))
    // Adjacent bigrams via lead() over token position — one key-partitioned
    // window; at scale this shuffles (doc_id, pos, token) rows only.
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bgc = tok.withColumn("tk2", lead(col("tk"), 1).over(wp))
      .filter(col("tk2").isNotNull)
      .groupBy(col("doc_id"), concat_ws(" ", col("tk"), col("tk2")).as("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_n"))
    d.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(tokc, "doc_id")
      .join(bgc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("top_tok_n"),
        (col("top_tok_n").cast("double") / col("n_tokens")).as("top_tok_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).cast("long").as("top_bigram_n"),
        when(col("n_tokens") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") / (col("n_tokens") - 1))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** x22: benchmark decontamination — for every train-split document,
    * count its distinct 3-gram shingles that also appear anywhere in the
    * holdout split (x17's md5-bucket split rule), and flag overlaps.
    * Spark side joins on 8-byte shingle *hashes* (collision odds ~1e-10
    * over this vocabulary, same contract as x4); the oracle joins the
    * string shingles directly. */
  val decontaminate = Q.withOracle(
    "x22_decontam",
    "x22: train-split docs sharing 3-gram shingles with the holdout split",
    """WITH sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      |tagged AS MATERIALIZED (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
      |      THEN 'holdout' ELSE 'train' END AS split
      |  FROM documents),
      |hold AS MATERIALIZED (
      |  SELECT DISTINCT g FROM sh JOIN tagged USING (doc_id)
      |  WHERE split = 'holdout'),
      |hits AS MATERIALIZED (
      |  SELECT sh.doc_id, COUNT(*) AS n
      |  FROM sh JOIN tagged USING (doc_id) JOIN hold ON sh.g = hold.g
      |  WHERE split = 'train' GROUP BY 1)
      |SELECT t.doc_id, CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hit_shingles,
      |  COALESCE(hits.n, 0) > 0 AS contaminated
      |FROM tagged t LEFT JOIN hits ON t.doc_id = hits.doc_id
      |WHERE t.split = 'train'
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val holdout = substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    val trainSh = Dedup.shingleHashes(docs.filter(!holdout))
    val holdSh = Dedup.shingleHashes(docs.filter(holdout)).select(col("g")).distinct()
    val hits = trainSh.join(holdSh, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    docs.filter(!holdout).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_hit_shingles"),
        (coalesce(col("n"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** x184: novelty decay along the curriculum — the acceptance test for
    * a training schedule (composes x180 with the x71 novelty lens): walk
    * the corpus in x180's stride-scheduled order, split it into ten
    * position deciles, and ask how much NEW vocabulary each decile
    * introduces (a token type is charged to the decile of its first
    * scheduled occurrence). A schedule that front-loads diversity shows
    * a steep first-decile spike and a long flat tail; a schedule that
    * ghettoizes a source shows a late second spike. Per decile: docs,
    * token occurrences, first-seen types, the running type total, and
    * each decile's share of the final vocabulary — exact integers plus
    * two divisions, windows only on the 10-row decile axis.
    *
    * Scale shape: x180's two segmented scans, one doc-keyed join of the
    * schedule onto the token explode, one (token)-keyed min-position
    * agg, and a 10-row rollup; the scalar doc count broadcasts. */
  val curriculumNovelty = Q.withOracle(
    "x184_curriculum_novelty",
    "x184: new-vocabulary introduction per position decile of the x180 schedule",
    s"""WITH base AS (
       |  SELECT doc_id, source, text, $qualityScoreSql AS score FROM documents),
       |r AS (
       |  SELECT doc_id, text,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS src_rank,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |  FROM base),
       |p AS (
       |  SELECT doc_id, text,
       |    CAST(ROW_NUMBER() OVER (
       |      ORDER BY CAST(src_rank AS DOUBLE) / n_src, doc_id) AS BIGINT)
       |      AS position,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM r),
       |tok AS (
       |  SELECT doc_id, (position - 1) * 10 // n + 1 AS decile, position,
       |    unnest(string_split(text, ' ')) AS t
       |  FROM p),
       |per AS (
       |  SELECT decile, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) AS BIGINT) AS n_tokens
       |  FROM tok GROUP BY 1),
       |fs AS (
       |  SELECT t, MIN(position) AS fp FROM tok GROUP BY 1),
       |fd AS (
       |  SELECT (fp - 1) * 10 // CAST((SELECT MAX(n) FROM p) AS BIGINT) + 1
       |      AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS new_types
       |  FROM fs GROUP BY 1)
       |SELECT CAST(per.decile AS BIGINT) AS decile, per.n_docs, per.n_tokens,
       |  CAST(COALESCE(fd.new_types, 0) AS BIGINT) AS new_types,
       |  CAST(SUM(COALESCE(fd.new_types, 0)) OVER (ORDER BY per.decile)
       |    AS BIGINT) AS cum_types,
       |  CAST(COALESCE(fd.new_types, 0) AS DOUBLE)
       |    / SUM(COALESCE(fd.new_types, 0)) OVER () AS vocab_share
       |FROM per LEFT JOIN fd ON fd.decile = per.decile
       |ORDER BY decile""".stripMargin) { (s, dir) =>
    // doc-grain slim frame (two longs per doc), checkpointed once: the
    // per-decile and first-occurrence aggs below both read it, and
    // re-deriving x180's two segmented scans per consumer doubles the
    // schedule cost (the x170 slim-frame pattern)
    val sched = Materialize(curriculumOrder.fn(s, dir).select(col("doc_id"), col("position")))
    val n = sched.agg(max(col("position")).as("n"))
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .join(sched, "doc_id")
      .crossJoin(broadcast(n)) // one scalar row
      .withColumn("decile", expr("(position - 1) * 10 div n + 1"))
    val per = tok.groupBy(col("decile"))
      .agg(countDistinct(col("doc_id")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_tokens"))
    val fd = tok.groupBy(col("t"))
      .agg(min(col("position")).as("fp"), min(col("n")).as("n"))
      .withColumn("decile", expr("(fp - 1) * 10 div n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).cast("long").as("new_types"))
    // running/total windows on the bounded 10-row decile axis only
    val w = Window.partitionBy(lit(1)).orderBy(col("decile"))
    val tw = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.join(fd, Seq("decile"), "left")
      .select(col("decile").cast("long").as("decile"), col("n_docs"),
        col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_types", sum(col("new_types")).over(w).cast("long"))
      .withColumn("vocab_share",
        col("new_types").cast("double") / sum(col("new_types")).over(tw).cast("double"))
      .orderBy(col("decile"))
  }

  /** x182 dirty-document threshold: a train doc is flagged when MORE
    * than 4/5 of its tokens sit inside holdout-matching trigram spans
    * (the Llama-2-style "80% of tokens in matched spans" rule). The
    * compare is pure integer — 5·covered > 4·n_tokens. */
  private[ext] val DirtyNum = 4
  private[ext] val DirtyDen = 5

  /** The holdout split predicate shared by x182/x182b/x182c: a doc is
    * holdout when the first hex digit of md5(doc_id) is 0 or 1 (a
    * deterministic ~1/8 sample standing in for the benchmark suite). */
  private[ext] def holdoutCol: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")

  /** Positioned trigrams of a token array: array of (i, g) structs. */
  private[ext] def trigramsCol(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(
      filter(sequence(lit(1), size(t)), i => i <= size(t) - lit(2)),
      i => struct(i.as("i"), concat_ws(" ", element_at(t, i),
        element_at(t, i + 1), element_at(t, i + 2)).as("g")))

  /** x182: SPAN-level decontamination — x22 answers "does this train doc
    * share any shingle with the holdout"; production decontamination
    * (the Llama-2 appendix recipe) needs WHERE and HOW MUCH: for every
    * train doc, the matching trigram positions, the number of tokens
    * covered by the UNION of matched spans (overlaps counted once —
    * exact interval-union coverage via distinct covered indices), the
    * covered fraction, and the dirty verdict at the 80%-of-tokens
    * threshold. A doc can be 2% contaminated (keep, maybe mask) or 90%
    * (drop); x22's boolean can't tell them apart.
    *
    * Scale shape: one train-position explode (linear, map-side generated
    * from each doc's row) joined on the gram key against the DISTINCT
    * holdout-gram table (gram-keyed shuffle; at 100 TB the x53 Bloom
    * pre-filter drops the non-matching positions before the shuffle —
    * that composition is the deployed form, this is the exact one); the
    * ×3 coverage explode runs only on MATCHED positions, and per-doc
    * stats are one hash agg. Exactness: counts are longs, the fraction
    * is one division, the verdict is an integer compare. */
  val decontamSpans = Q.withOracle(
    "x182_decontam_spans",
    "x182: span-level decontamination - matched-trigram token coverage per train doc",
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       |      THEN 'holdout' ELSE 'train' END AS split
       |  FROM documents),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS i, t
       |  FROM d WHERE split = 'train' AND len(t) >= 3),
       |tg AS MATERIALIZED (
       |  SELECT doc_id, i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM pos),
       |hold AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM d WHERE split = 'holdout'),
       |m AS MATERIALIZED (
       |  SELECT tg.doc_id, tg.i FROM tg JOIN hold USING (g)),
       |cov AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_match_pos,
       |    CAST(COUNT(DISTINCT j) AS BIGINT) AS covered_tokens
       |  FROM (SELECT doc_id, i, unnest(generate_series(i, i + 2)) AS j FROM m)
       |  GROUP BY 1)
       |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(c.n_match_pos / 3, 0) AS BIGINT) AS n_match_pos,
       |  CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       |  CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / len(d.t) AS contam_frac,
       |  CAST(CASE WHEN $DirtyDen * COALESCE(c.covered_tokens, 0)
       |    > $DirtyNum * len(d.t) THEN 1 ELSE 0 END AS BIGINT) AS dirty
       |FROM d LEFT JOIN cov c USING (doc_id)
       |WHERE d.split = 'train'
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val holdout = holdoutCol
    val tg = docs.filter(!holdout)
      .select(col("doc_id"), explode(trigramsCol(col("t"))).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.g").as("g"))
    val hold = docs.filter(holdout)
      .select(explode(trigramsCol(col("t"))).as("p"))
      .select(col("p.g").as("g")).distinct()
    val cov = tg.join(hold, "g")
      .select(col("doc_id"), col("i"), explode(sequence(col("i"), col("i") + 2)).as("j"))
      .groupBy(col("doc_id"))
      .agg((count(lit(1)) / 3).cast("long").as("n_match_pos"),
        countDistinct(col("j")).cast("long").as("covered_tokens"))
    docs.filter(!holdout)
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_match_pos"), lit(0L)).as("n_match_pos"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("contam_frac"),
        when(lit(DirtyDen) * coalesce(col("covered_tokens"), lit(0L))
          > lit(DirtyNum) * col("n_tokens"), 1L).otherwise(0L).as("dirty"))
      .orderBy(col("doc_id"))
  }

  /** The mask token x182b substitutes at covered positions. Reserved by
    * construction on this corpus (plain alphanumeric vocab) and, more
    * importantly, IDEMPOTENCE-safe: a trigram containing it can never
    * match a holdout trigram, so re-cleaning a cleaned corpus changes
    * nothing (RewriteSpec's x43 invariant, pinned in CurationSpec). */
  private[graft] val MaskTok = "__MASK__"

  /** Shared oracle CTE chain for x182b/x182c ending in `cs` (per-doc
    * covered-index list + count) over the x182 trigram match. */
  private def coverageCtes: String =
    s"""d AS (
       |  SELECT doc_id, source, text, string_split(text, ' ') AS t,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       |      THEN 'holdout' ELSE 'train' END AS split
       |  FROM documents),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, unnest(generate_series(1, len(t) - 2)) AS i, t
       |  FROM d WHERE split = 'train' AND len(t) >= 3),
       |tg AS MATERIALIZED (
       |  SELECT doc_id, i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM pos),
       |hold AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
       |  FROM d WHERE split = 'holdout'),
       |m AS MATERIALIZED (
       |  SELECT tg.doc_id, tg.i FROM tg JOIN hold USING (g)),
       |cj AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, j FROM
       |    (SELECT doc_id, unnest(generate_series(i, i + 2)) AS j FROM m)),
       |cs AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS covered, list(j) AS cov
       |  FROM cj GROUP BY 1)""".stripMargin

  /** Per-train-doc covered-index frame (doc_id, covered, cov) — the
    * Spark twin of `cs`, shared by x182b and x182c. */
  private def coverageFrame(docsAll: DataFrame): DataFrame = {
    val tg = docsAll.filter(!holdoutCol)
      .select(col("doc_id"), explode(trigramsCol(col("t"))).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.g").as("g"))
    val hold = docsAll.filter(holdoutCol)
      .select(explode(trigramsCol(col("t"))).as("p"))
      .select(col("p.g").as("g")).distinct()
    tg.join(hold, "g")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 2)).as("j"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("covered"),
        collect_set(col("j")).as("cov"))
  }

  /** x182b: ACT on the x182 verdicts — the decontamination REWRITE
    * (r14 verdict board #4; the Llama-2 appendix recipe's action half,
    * what x43 did for duplicated blocks). Dirty train docs (covered
    * tokens past the [[DirtyNum]]/[[DirtyDen]] threshold) are DROPPED;
    * every other train doc is emitted with the union of its matched
    * spans masked token-by-token ([[MaskTok]] substituted in place, so
    * positions are preserved and partial masks never splice new
    * adjacencies). Output: the cleaned corpus — one row per kept doc
    * with its token count, masked-token count, and rewritten text.
    *
    * Idempotence (the x43 invariant): a masked position's trigrams all
    * contain [[MaskTok]] and can't match the holdout, and an unmatched
    * unmasked trigram is byte-identical to its original (masking
    * substitutes in place) — so re-cleaning the cleaned corpus against
    * the same holdout masks zero further tokens and drops zero docs
    * (CurationSpec pins it end-to-end).
    *
    * Scale shape: x182's exactly (one train-position explode joined to
    * the distinct-holdout gram table, coverage explode on matches only)
    * plus a per-doc collect_set of covered indices — bounded by doc
    * length, grouped map-side — and one final per-row array transform
    * (the rewrite is a map over kept docs; the corpus text never
    * shuffles — `t`/`cov` ride the doc-keyed join that coverage already
    * paid). */
  val decontamRewrite = Q.withOracle(
    "x182b_decontam_rewrite",
    "x182b: decontamination rewrite - drop dirty train docs, mask covered spans in the rest",
    s"""WITH $coverageCtes
       |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(cs.covered, 0) AS BIGINT) AS masked_tokens,
       |  CASE WHEN cs.cov IS NULL THEN d.text
       |    ELSE array_to_string(list_transform(generate_series(1, len(d.t)),
       |      j -> CASE WHEN list_contains(cs.cov, j) THEN '$MaskTok'
       |           ELSE d.t[j] END), ' ')
       |  END AS text_clean
       |FROM d LEFT JOIN cs ON d.doc_id = cs.doc_id
       |WHERE d.split = 'train'
       |  AND NOT ($DirtyDen * COALESCE(cs.covered, 0) > $DirtyNum * len(d.t))
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docsAll = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
    val cov = coverageFrame(docsAll)
    docsAll.filter(!holdoutCol)
      .join(cov, Seq("doc_id"), "left")
      .filter(!(lit(DirtyDen) * coalesce(col("covered"), lit(0L))
        > lit(DirtyNum) * size(col("t"))))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("masked_tokens"),
        when(col("cov").isNull, col("text")).otherwise(
          array_join(transform(sequence(lit(1), size(col("t"))),
            j => when(array_contains(col("cov"), j), lit(MaskTok))
              .otherwise(element_at(col("t"), j))), " ")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** x182c: per-SOURCE decontamination telemetry (x169's removed-token
    * posture applied to x182b's action): for each source, the train doc
    * and token totals, how many docs the dirty threshold drops, how many
    * tokens leave with them, how many surviving tokens get masked, and
    * the overall removed fraction — the table a curation team reads to
    * see which ingest feed is leaking benchmark text. One ≤#sources-row
    * hash agg over the same coverage frame; exact long sums, one
    * division. */
  val decontamTelemetry = Q.withOracle(
    "x182c_decontam_telemetry",
    "x182c: per-source decontamination telemetry (dropped docs, dropped/masked tokens)",
    s"""WITH $coverageCtes,
       |v AS (
       |  SELECT d.source, len(d.t) AS n, COALESCE(cs.covered, 0) AS covered,
       |    CASE WHEN $DirtyDen * COALESCE(cs.covered, 0) > $DirtyNum * len(d.t)
       |      THEN 1 ELSE 0 END AS dirty
       |  FROM d LEFT JOIN cs ON d.doc_id = cs.doc_id
       |  WHERE d.split = 'train')
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(dirty) AS BIGINT) AS n_dropped,
       |  CAST(SUM(n) AS BIGINT) AS tokens_in,
       |  CAST(SUM(dirty * n) AS BIGINT) AS tokens_dropped,
       |  CAST(SUM((1 - dirty) * covered) AS BIGINT) AS tokens_masked,
       |  CAST(SUM(dirty * n) + SUM((1 - dirty) * covered) AS DOUBLE) / SUM(n)
       |    AS removed_frac
       |FROM v GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docsAll = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"),
        split(col("text"), " ").as("t"))
    val cov = coverageFrame(docsAll)
    val v = docsAll.filter(!holdoutCol)
      .join(cov.select(col("doc_id"), col("covered")), Seq("doc_id"), "left")
      .select(col("source"), size(col("t")).cast("long").as("n"),
        coalesce(col("covered"), lit(0L)).as("covered"))
      .withColumn("dirty",
        when(lit(DirtyDen) * col("covered") > lit(DirtyNum) * col("n"), 1L)
          .otherwise(0L))
    v.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("dirty")).cast("long").as("n_dropped"),
        sum(col("n")).cast("long").as("tokens_in"),
        sum(col("dirty") * col("n")).cast("long").as("tokens_dropped"),
        sum((lit(1L) - col("dirty")) * col("covered")).cast("long").as("tokens_masked"))
      .select(col("source"), col("n_docs"), col("n_dropped"), col("tokens_in"),
        col("tokens_dropped"), col("tokens_masked"),
        ((col("tokens_dropped") + col("tokens_masked")).cast("double") /
          col("tokens_in").cast("double")).as("removed_frac"))
      .orderBy(col("source"))
  }

  /** Tokens per fixed-length training sequence for x23. */
  val SeqLen = 64
  /** Docs per prefix-scan bucket for x23 — the only global window runs
    * over ≈ n_docs/PackBucket rows. Power of two so the bucket key is a
    * shift (true floor division — `DIV` truncates toward zero, which
    * would break bucket-order monotonicity for negative doc_ids). */
  val PackBucketBits = 8
  val PackBucket: Int = 1 << PackBucketBits

  /** x23: sequence packing — concatenate all documents in doc_id order
    * and chunk the token stream into fixed SeqLen-token training
    * sequences; emit each document's span(s) as (seq_id, tok_start,
    * tok_len). This is GPT-style pack-and-chunk (documents cross sequence
    * boundaries; tok_start is the offset *inside* the doc).
    *
    * The global token prefix-sum is a two-level segmented scan keyed on
    * `doc_id DIV PackBucket` (contiguous, monotone in doc_id, no density
    * assumption): per-bucket running sums in a key-partitioned window,
    * plus one tiny window over the bucket-totals table for the offsets —
    * identical result to `SUM() OVER (ORDER BY doc_id)` without ever
    * sorting the full corpus in one partition. */
  /** The x23 segmented-scan packing over any (doc_id, n_tokens) frame:
    * two-level prefix sum (per-bucket window + broadcast bucket offsets),
    * then span explosion — reused by the x30 end-to-end pipeline over its
    * curated subset. */
  private[ext] def packSpans(docsWithN: DataFrame): DataFrame = {
    val d = docsWithN.withColumn("bkt", shiftright(col("doc_id"), PackBucketBits))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketOffsets = d.groupBy(col("bkt")).agg(sum(col("n")).as("bt"))
      .withColumn("off", coalesce(
        sum(col("bt")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val withGs = d.withColumn("cum_in", sum(col("n")).over(wIn))
      .join(broadcast(bucketOffsets), "bkt")
      .withColumn("gs", col("off") + col("cum_in") - col("n"))
    withGs
      .select(col("doc_id"), col("n"), col("gs"),
        explode(sequence(expr(s"gs DIV $SeqLen"), expr(s"(gs + n - 1) DIV $SeqLen")))
          .as("seq_id"))
      .select(col("doc_id"), col("seq_id").cast("long").as("seq_id"),
        (greatest(col("gs"), col("seq_id") * SeqLen) - col("gs")).as("tok_start"),
        (least(col("gs") + col("n"), (col("seq_id") + 1) * SeqLen)
          - greatest(col("gs"), col("seq_id") * SeqLen)).as("tok_len"))
      .orderBy(col("doc_id"), col("seq_id"))
  }

  val packSequences = Q.withOracle(
    "x23_pack_sequences",
    "x23: pack-and-chunk token-stream packing (segmented prefix scan)",
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents WHERE len(string_split(text, ' ')) > 0),
       |c AS (
       |  SELECT doc_id, n,
       |    CAST(SUM(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS gs
       |  FROM d),
       |sp AS (
       |  SELECT doc_id, n, gs,
       |    unnest(generate_series(gs // $SeqLen, (gs + n - 1) // $SeqLen)) AS seq_id
       |  FROM c)
       |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(GREATEST(gs, seq_id * $SeqLen) - gs AS BIGINT) AS tok_start,
       |  CAST(LEAST(gs + n, (seq_id + 1) * $SeqLen)
       |    - GREATEST(gs, seq_id * $SeqLen) AS BIGINT) AS tok_len
       |FROM sp ORDER BY doc_id, seq_id""".stripMargin) { (s, dir) =>
    packSpans(Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") > 0))
  }

  /** Shared by batch x24 and the streaming scrub (DocFeed.curateStream) so
    * the two paths cannot drift. */
  val Stopwords = Seq("a", "the")

  /** The x24 scrub as reusable Columns over a `text` column — the single
    * definition both the batch query and the streaming map apply. */
  def scrubTokens: org.apache.spark.sql.Column = split(col("text"), " ")
  def scrubKept: org.apache.spark.sql.Column =
    filter(scrubTokens, t => !t.isin(Stopwords: _*))
  def scrubCleanText: org.apache.spark.sql.Column = array_join(scrubKept, " ")
  def scrubNumRemoved: org.apache.spark.sql.Column =
    (size(scrubTokens) - size(scrubKept)).cast("long")

  /** x24: stopword scrub — text normalization that drops stopword tokens
    * and rejoins. Pure map over the corpus: no shuffle at any scale. */
  val stopwordScrub = Q.withOracle(
    "x24_stopword_scrub",
    "x24: stopword-removal normalization (pure map)",
    s"""SELECT doc_id,
       |  array_to_string(list_filter(string_split(text, ' '),
       |    t -> t NOT IN (${Stopwords.map(w => s"'$w'").mkString(", ")})), ' ')
       |    AS clean_text,
       |  CAST(len(string_split(text, ' '))
       |    - len(list_filter(string_split(text, ' '),
       |        t -> t NOT IN (${Stopwords.map(w => s"'$w'").mkString(", ")})))
       |    AS BIGINT) AS n_removed
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      scrubCleanText.as("clean_text"),
      scrubNumRemoved.as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** PII scrub — the masking stage a crawl-derived corpus runs before
    * training (emails, phone-shaped digit runs, SSN-shaped triples →
    * typed placeholder tokens), as reusable Columns over a `text`
    * column: pure map, no shuffle, composes with the rest of the
    * curation DAG like the stopword scrub. The synthetic corpus contains
    * no digits/emails, so this carries a crafted-input spec
    * (CurationSpec) instead of a no-op registry oracle.
    *
    * Patterns and the fold live in [[Pii]] — the repo's ONE pattern
    * table and redaction chain (round-8 unification with x46); this
    * call site binds the broader Java-side [[Pii.CurationRules]] list
    * (email / SSN / loose phone). */
  def piiScrubbed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Pii.redactChain(text, Pii.CurationRules)

  /** Redaction count: one count per replacement `piiScrubbed` performs.
    * Each class counts on text with the EARLIER classes already masked,
    * mirroring the replace chain's precedence exactly — an SSN also
    * matches the looser phone shape, and a phone-shaped digit run inside
    * an email local part must count as the email it was replaced as, not
    * double-count as a phone. */
  def piiRedactions(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Pii.redactionCount(text, Pii.CurationRules)

  /** Per-doc quality score used by x25/x26 (and x191's signal panel):
    * distinct-token ratio (the x8 `uniq_ratio` signal) — one IEEE
    * division of two exact counts. */
  private[graft] def qualityScore = {
    val t = split(col("text"), " ")
    (size(array_distinct(t)).cast("double") / size(t))
  }
  // a def, not a val: x184 is declared ABOVE this point and interpolates
  // it at object init — a val would still be null there (init order)
  private[graft] def qualityScoreSql =
    """CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' '))""".stripMargin

  /** x25: decile binning of the quality score + per-bin stats — the
    * "inspect the quality distribution before choosing a filter
    * threshold" step. Exact NTILE over a (score, doc_id) total order;
    * no double is ever summed (min/max of per-row-identical doubles,
    * exact BIGINT sums otherwise), so parity is bit-exact.
    *
    * Scale shape (round 12): the naive form — `ntile(10) OVER (ORDER BY
    * score, doc_id)` — is a corpus-wide SINGLE-PARTITION window, the one
    * plan that funnels every document through one reducer for a global
    * sort. The exact decile is instead DERIVED from the exact global
    * rank via [[SegmentedRank]] (the x111 machinery): segment on
    * `floor(score · 4096)` (monotone in score), rank per segment in
    * parallel, broadcast the ≤4097-row segment-offset table, apply SQL's
    * own NTILE formula. Identical semantics — the oracle is still plain
    * `NTILE(10) OVER (ORDER BY score, doc_id)` — but no executor ever
    * sorts more than one score-segment's rows. */
  val qualityDeciles = Q.withOracle(
    "x25_quality_deciles",
    "x25: quality-score deciles with per-bin stats",
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    $qualityScoreSql AS score
       |  FROM documents),
       |dec AS (
       |  SELECT *, NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM base)
       |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_docs,
       |  MIN(score) AS min_score, MAX(score) AS max_score,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
       |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      qualityScore.as("score"))
    // segment = floor(score·4096): monotone in score (multiplying a
    // double by a positive power of two is exact), ≤4097 segments
    val ranked = SegmentedRank.withGlobalRank(base,
      floor(col("score") * 4096).cast("long"), Seq(col("score"), col("doc_id")))
    ranked.withColumn("decile", SegmentedRank.ntileExpr(10).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
      .orderBy(col("decile"))
  }

  /** x25b: the scale path for x25 — decile binning from approx_percentile
    * boundaries plus a map-side bucket lookup, no global sort anywhere.
    * approx_percentile is a mergeable sketch (map-side combined, one
    * partial row per partition), the 9 boundaries broadcast to every task,
    * and bin assignment is `1 + #{boundaries below score}` — a pure map.
    * Exact NTILE (x25) splits tied scores across deciles by doc_id;
    * boundary binning keeps ties together, so bin populations agree with
    * x25 only up to tie-group size (CurationSpec pins the tolerance).
    * Rows-only driver check: the sketch is Spark-specific, so no DuckDB
    * oracle — the correctness story is the spec against exact x25. */
  val qualityDecilesApprox = Q(
    "x25b_quality_deciles_approx",
    "x25b: approx-percentile decile binning (sketch boundaries, no global sort)")(
    (s, dir) => {
      val base = Tables.documents(s, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        qualityScore.as("score"))
      val bnds = base.agg(
        percentile_approx(col("score"), array((1 to 9).map(i => lit(i / 10.0)): _*),
          lit(10000)).as("bnds"))
      base.crossJoin(broadcast(bnds))
        .withColumn("decile",
          (lit(1) + size(filter(col("bnds"), b => b < col("score")))).cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"),
          sum(col("n_tokens")).cast("long").as("sum_tokens"))
        .orderBy(col("decile"))
    })

  /** x174: the quality-decile × source grid — WHO supplies the good
    * text. x25 shows the quality distribution, x170 weighs sources by
    * deduped mass; this is the missing axis between them: each source's
    * documents spread across the GLOBAL quality deciles, with the
    * source-conditional share ("45% of source_07 sits in the bottom two
    * deciles" is a renegotiation argument no per-source mean conveys).
    * Deciles are x25's exact global NTILE via [[SegmentedRank]] — the
    * same derived-rank formula, so the oracle stays plain NTILE(10);
    * shares are one double division of exact longs over a window that
    * runs on the ≤ deciles×sources grid.
    *
    * Scale shape: x25's one segment shuffle + broadcast offset join,
    * then one (decile, source) hash agg; the share window and ordering
    * touch only the bounded grid. */
  val qualityBySource = Q.withOracle(
    "x174_quality_by_source",
    "x174: global quality deciles per source with source-conditional shares",
    s"""WITH base AS (
       |  SELECT doc_id, source, $qualityScoreSql AS score
       |  FROM documents),
       |dec AS (
       |  SELECT *, NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM base),
       |g AS (
       |  SELECT CAST(decile AS BIGINT) AS decile, source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM dec GROUP BY 1, 2)
       |SELECT decile, source, n_docs,
       |  CAST(n_docs AS DOUBLE)
       |    / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE)
       |    AS source_share
       |FROM g ORDER BY decile, source""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir).select(
      col("doc_id"), col("source"), qualityScore.as("score"))
    val ranked = SegmentedRank.withGlobalRank(base,
      floor(col("score") * 4096).cast("long"), Seq(col("score"), col("doc_id")))
    val g = ranked.withColumn("decile", SegmentedRank.ntileExpr(10).cast("long"))
      .groupBy(col("decile"), col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    // the share window runs on the bounded deciles×sources grid
    val srcW = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    g.select(col("decile"), col("source"), col("n_docs"),
        (col("n_docs").cast("double")
          / sum(col("n_docs")).over(srcW).cast("double")).as("source_share"))
      .orderBy(col("decile"), col("source"))
  }

  /** x26: quality-weighted deterministic Bernoulli sample — keep a doc
    * when a stable per-doc uniform draw falls below its quality score, so
    * higher-quality documents survive proportionally more often. The
    * "uniform" is a Knuth multiplicative hash of doc_id reduced mod a
    * prime — pure integer arithmetic, reproducible on any engine at any
    * parallelism (same portability argument as x17's md5 split; see
    * Sampling.scala). Membership is a map-side predicate: no shuffle.
    *
    * The multiply is done in modular form — (a*b) mod p ==
    * ((a mod p)*(b mod p)) mod p — because the naive `doc_id * 2654435761`
    * overflows LongType (ANSI ArithmeticException) once doc_id exceeds
    * ~3.47e9, which a 100 TB corpus will. Max intermediate here is
    * 1000002 * 427799 ≈ 4.3e11: overflow-free on both engines, and the
    * draw is bit-identical to the naive form where that form is defined. */
  private val SamplePrime = 1000003L
  private val KnuthModP = 2654435761L % SamplePrime // = 427799
  val weightedSample = Q.withOracle(
    "x26_weighted_sample",
    "x26: quality-weighted deterministic sample (integer-hash uniform)",
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(((doc_id % $SamplePrime) * $KnuthModP) % $SamplePrime AS DOUBLE)
       |      / $SamplePrime AS u,
       |    $qualityScoreSql AS score
       |  FROM documents)
       |SELECT doc_id, u, score FROM base
       |WHERE u < score ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
        col("doc_id"),
        (((col("doc_id") % SamplePrime) * lit(KnuthModP)) % SamplePrime).cast("double")
          ./(lit(SamplePrime)).as("u"),
        qualityScore.as("score"))
      .filter(col("u") < col("score"))
      .orderBy(col("doc_id"))
  }

  /** x30: the curation stages composed END-TO-END in one query — exact
    * dedup survivors (x1) → quality filter (x8's uniq-ratio ≥ 0.5) →
    * holdout removal (x17's md5 split rule) → sequence packing (x23's
    * segmented scan) over what remains. This is the DAG a training-data
    * pipeline actually runs; each stage is the already-verified operator,
    * and the composition itself is hash-checked against DuckDB. Plan
    * shape: dedup is one hash-agg, both filters are map-side predicates
    * fused into the same scan, and only the surviving (doc_id, n) pairs
    * reach the packing shuffle — at 100 TB the filters run where the
    * data lives and the sort-free scan sees a fraction of the corpus. */
  val curationPipeline = Q.withOracle(
    "x30_curation_pipeline",
    "x30: dedup -> quality filter -> decontamination split -> packing, end-to-end",
    s"""WITH surv AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |cur AS (
       |  SELECT d.doc_id, string_split(d.text, ' ') AS t
       |  FROM documents d JOIN surv ON d.doc_id = surv.doc_id
       |  WHERE $qualityScoreSql >= 0.5
       |    AND substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')),
       |d AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM cur WHERE len(t) > 0),
       |c AS (
       |  SELECT doc_id, n,
       |    CAST(SUM(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS gs
       |  FROM d),
       |sp AS (
       |  SELECT doc_id, n, gs,
       |    unnest(generate_series(gs // $SeqLen, (gs + n - 1) // $SeqLen)) AS seq_id
       |  FROM c)
       |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(GREATEST(gs, seq_id * $SeqLen) - gs AS BIGINT) AS tok_start,
       |  CAST(LEAST(gs + n, (seq_id + 1) * $SeqLen)
       |    - GREATEST(gs, seq_id * $SeqLen) AS BIGINT) AS tok_len
       |FROM sp ORDER BY doc_id, seq_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val survivors = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val curated = docs.join(survivors, "doc_id")
      .filter(qualityScore >= 0.5)
      .filter(!substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .filter(col("n") > 0)
    packSpans(curated)
  }

  /** x180: curriculum training order — the deterministic WRITER for the
    * mixture schedule every pretraining run needs: within each source,
    * docs are consumed best-quality-first (curriculum ordering, Bengio
    * et al. 2009, "Curriculum Learning"); across sources, the schedule
    * interleaves proportionally to source size by STRIDE SCHEDULING
    * (Waldspurger & Weihl 1995): doc r of a size-n source gets priority
    * r/n — the fraction of its source consumed — so any prefix of the
    * global order contains each source in proportion (±1 per source),
    * the deterministic analog of sampling-without-replacement from the
    * mixture weights. Output: per doc its source rank, stride priority,
    * and 1-based global training position.
    *
    * Exactness: priority is ONE division of exact longs; both ranks are
    * exact and total-ordered ((score desc, doc_id) within source;
    * (priority, doc_id) globally), so the oracle is plain ROW_NUMBER.
    *
    * Scale shape: no single-partition window and no per-source sort
    * funnel — BOTH ranks run as [[SegmentedRank]] segmented scans (the
    * within-source rank segments on −score inside each source group, so
    * a 100×-skewed source still sorts only (source, segment) slices);
    * the size table is a ≤|sources|-row broadcast. Two segment shuffles
    * + one hash agg total. */
  val curriculumOrder = Q.withOracle(
    "x180_curriculum_order",
    "x180: stride-scheduled curriculum order (per-source quality rank -> proportional interleave)",
    s"""WITH base AS (
       |  SELECT doc_id, source, $qualityScoreSql AS score FROM documents),
       |r AS (
       |  SELECT doc_id, source, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS src_rank,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |  FROM base),
       |p AS (
       |  SELECT doc_id, source, src_rank,
       |    CAST(src_rank AS DOUBLE) / n_src AS priority
       |  FROM r)
       |SELECT doc_id, source, src_rank, priority,
       |  CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS BIGINT) AS position
       |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), qualityScore.as("score"))
      // rank DESC by score == rank ASC by its negation (exact in IEEE),
      // which gives the grouped scan its monotone segment key
      .withColumn("negscore", -col("score"))
      .withColumn("seg", floor(col("negscore") * 4096).cast("long"))
    val ranked = SegmentedRank.withGroupedRank(base, Seq("source"), "seg",
      Seq(col("negscore"), col("doc_id")), "src_rank")
    val sizes = base.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_src"))
    val prio = ranked.join(broadcast(sizes), "source")
      .select(col("doc_id"), col("source"), col("src_rank").cast("long").as("src_rank"),
        (col("src_rank").cast("double") / col("n_src").cast("double")).as("priority"))
    SegmentedRank.withGlobalRank(prio,
        floor(col("priority") * 4096).cast("long"), Seq(col("priority"), col("doc_id")))
      .select(col("doc_id"), col("source"), col("src_rank"), col("priority"),
        col("r").cast("long").as("position"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(repetition, decontaminate, packSequences,
    stopwordScrub, qualityDeciles, qualityDecilesApprox, qualityBySource,
    weightedSample, curationPipeline, curriculumOrder, decontamSpans,
    curriculumNovelty, decontamRewrite, decontamTelemetry)
}
