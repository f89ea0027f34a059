package graft.ext

import graft.{Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for an LLM training pipeline over
  * `documents`: hybrid-retrieval rank fusion, sliding-window chunking,
  * vocabulary building, n-gram counts, and OOV-rate scoring.
  *
  * Reference scope being re-expressed: the reference's surface is SQL
  * aggregation over healthcare tables (weekly-report.py:269-403); these
  * ops are the LLM-pipeline extension surface the builder brief adds as
  * first-class components over the synthetic `documents` corpus.
  *
  * Scale shapes (100 TB posture):
  *  - x34 fuses two retriever rankings; each side's full ranking is
  *    truncated to a bounded per-query pool by the TopKPerKey plan node
  *    (partial/final heaps around one shuffle), so no window ever sees
  *    more than `RrfPoolN` rows per query.
  *  - x35 is a pure map + explode — zero shuffles; chunk arrays are
  *    built per row and never collected.
  *  - x36/x37 are one hash-aggregate plus a TakeOrderedAndProject
  *    (bounded k); the only Window runs over the ≤k survivors.
  *  - x38 broadcasts the tiny vocabulary and counts map-side; one keyed
  *    aggregate per doc.
  */
object Corpus {

  /** Chunking geometry: 64-token windows every 48 tokens (16 overlap). */
  private val ChunkSize = 64
  private val ChunkStride = 48

  /** Vocabulary cutoff. The synthetic corpus has ~31 distinct tokens, so
    * 20 makes the truncation (and x38's OOV mass) real rather than
    * degenerate; at scale this would be 10⁵-ish. */
  private val VocabK = 20

  private val BigramK = 200

  /** Standard RRF constant (Cormack et al.'s k=60). */
  private val RrfK = 60

  /** Per-retriever candidate pool fused by x34 — production hybrid
    * search fuses each system's top-N, not its full ranking. */
  private val RrfPoolN = 100

  private def toks(c: org.apache.spark.sql.Column) = split(c, " ")

  /** x34: reciprocal-rank fusion of two retrievers over the x33 probe
    * queries — a lexical ranking (total query-term frequency) and a
    * coverage ranking (distinct query terms matched, tf tiebreak).
    * RRF score = Σ 1/(k + rank) over the systems that returned the doc,
    * summed in a fixed system order so the double addition is
    * bit-reproducible cross-engine. Ranks come from integer-only
    * orderings with doc_id tiebreaks, so both engines rank identically.
    */
  val rrfFusion = Q.withOracle(
    "x34_rrf_fusion",
    "x34: hybrid-retrieval reciprocal-rank fusion, top-5 docs per probe query",
    s"""WITH qt(query_id, term) AS (VALUES ${Search.qtValues}),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |mt AS (SELECT q.query_id, t.doc_id, t.term FROM toks t JOIN qt q USING (term)),
      |cand AS (SELECT query_id, doc_id, COUNT(*) AS tf_sum,
      |                COUNT(DISTINCT term) AS coverage
      |         FROM mt GROUP BY 1, 2),
      |lex AS (SELECT query_id, doc_id,
      |          ROW_NUMBER() OVER (PARTITION BY query_id
      |            ORDER BY tf_sum DESC, doc_id) AS r
      |        FROM cand QUALIFY r <= $RrfPoolN),
      |cov AS (SELECT query_id, doc_id,
      |          ROW_NUMBER() OVER (PARTITION BY query_id
      |            ORDER BY coverage DESC, tf_sum DESC, doc_id) AS r
      |        FROM cand QUALIFY r <= $RrfPoolN),
      |fused AS (
      |  SELECT COALESCE(l.query_id, c.query_id) AS query_id,
      |         COALESCE(l.doc_id, c.doc_id) AS doc_id,
      |         COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + l.r), CAST(0.0 AS DOUBLE))
      |           + COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + c.r), CAST(0.0 AS DOUBLE)) AS rrf
      |  FROM lex l FULL JOIN cov c USING (query_id, doc_id))
      |SELECT query_id, doc_id, rrf FROM fused
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
      |  ORDER BY rrf DESC, doc_id) <= 5
      |ORDER BY query_id, rrf DESC, doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val qt = s.createDataFrame(Search.QueryTerms).toDF("query_id", "term")
    val tk = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    // Filter-first: only query-term tokens survive this broadcast join.
    val cand = tk.join(broadcast(qt), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("tf_sum"), countDistinct(col("term")).as("coverage"))
    // Bounded-heap truncation BEFORE any window: the row_number below
    // only ever sorts ≤ RrfPoolN rows per query.
    def ranked(order: Seq[(String, Boolean)], rName: String) = {
      val pool = graft.plans.TopKPerKey.topKPerKey(cand, Seq("query_id"), order, RrfPoolN)
      val w = Window.partitionBy(col("query_id")).orderBy(
        order.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
      pool.withColumn(rName, row_number().over(w))
        .select(col("query_id"), col("doc_id"), col(rName))
    }
    val lex = ranked(Seq(("tf_sum", false), ("doc_id", true)), "r_lex")
    val cov = ranked(Seq(("coverage", false), ("tf_sum", false), ("doc_id", true)), "r_cov")
    // Fixed lex-then-cov addition order mirrors the oracle exactly.
    val fused = lex.join(cov, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_cov")), lit(0.0))).as("rrf"))
    graft.plans.TopKPerKey
      .topKPerKey(fused, Seq("query_id"), Seq(("rrf", false), ("doc_id", true)), k = 5)
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
  }

  /** x35: sliding-window chunking — split each document into
    * overlapping token windows (the training-example splitter that
    * precedes packing). Pure map + explode: zero shuffles at any scale;
    * the final ORDER BY exists only for the deterministic-bytes
    * contract. */
  val chunkSliding = Q.withOracle(
    "x35_chunk_sliding",
    s"x35: $ChunkSize-token chunks every $ChunkStride tokens, overlap preserved",
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n FROM documents),
      |starts AS (
      |  SELECT doc_id, toks, n,
      |         unnest(generate_series(0, n - 1, $ChunkStride)) AS chunk_start FROM d)
      |SELECT doc_id, chunk_start,
      |  least($ChunkSize, n - chunk_start) AS n_chunk_tokens,
      |  array_to_string(list_slice(toks, chunk_start + 1, chunk_start + $ChunkSize), ' ')
      |    AS chunk_text
      |FROM starts ORDER BY doc_id, chunk_start""".stripMargin) { (s, dir) =>
    val t = toks(col("text"))
    val n = size(t)
    val chunks = transform(
      sequence(lit(0), n - lit(1), lit(ChunkStride)),
      start => struct(
        start.cast("long").as("chunk_start"),
        least(lit(ChunkSize), n - start).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(t, start + lit(1), lit(ChunkSize))).as("chunk_text")))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_start"), col("c.n_chunk_tokens"),
        col("c.chunk_text"))
      .orderBy(col("doc_id"), col("chunk_start"))
  }

  /** Corpus token counts — shared by x36 and x38. One explode + one
    * map-side-combined hash aggregate. */
  private def tokenCounts(docs: org.apache.spark.sql.DataFrame) =
    docs.select(explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** The top-`VocabK` vocabulary (no ids) — TakeOrderedAndProject, so
    * the driver-side cost is k rows regardless of corpus size. */
  private def vocab(docs: org.apache.spark.sql.DataFrame) =
    tokenCounts(docs).orderBy(col("cnt").desc, col("token")).limit(VocabK)

  /** x36: frequency-vocabulary build with dense integer ids — the
    * tokenizer-training precursor. The global row_number window runs
    * AFTER the top-k truncation, over exactly `VocabK` rows; the same
    * total order (cnt DESC, token) defines both the cutoff and the ids,
    * so the subset-then-rank plan and the oracle's rank-then-filter
    * QUALIFY agree row-for-row. */
  val vocabTopK = Q.withOracle(
    "x36_vocab_build",
    s"x36: top-$VocabK token vocabulary with dense frequency-ranked ids",
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS token_id,
      |  token, cnt
      |FROM counts
      |QUALIFY token_id <= $VocabK
      |ORDER BY token_id""".stripMargin) { (s, dir) =>
    vocab(Tables.documents(s, dir))
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))).cast("long"))
      .select(col("token_id"), col("token"), col("cnt"))
      .orderBy(col("token_id"))
  }

  /** x37: bigram counts — the n-gram language-model statistic. Adjacent
    * pairs come from zipping the token array with its own tail
    * (`zip_with` pads the tail with NULL; null-propagating `concat`
    * marks the pad pair, which the array `filter` drops), so the pair
    * construction is a pure per-row expression — no positional
    * self-join, no shuffle of anything but (bigram, count). */
  val bigramCounts = Q.withOracle(
    "x37_bigram_counts",
    s"x37: top-$BigramK adjacent-token bigram counts over the corpus",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |           len(string_split(text, ' ')) AS n FROM documents),
      |pos AS (SELECT doc_id, toks, unnest(generate_series(1, n - 1)) AS i FROM d),
      |bg AS (SELECT toks[i] || ' ' || toks[i + 1] AS bigram FROM pos),
      |counts AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY 1)
      |SELECT bigram, cnt FROM counts
      |QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) <= $BigramK
      |ORDER BY cnt DESC, bigram""".stripMargin) { (s, dir) =>
    val t = toks(col("text"))
    val pairs = filter(
      zip_with(t, slice(t, lit(2), size(t)), (a, b) => concat(a, lit(" "), b)),
      p => p.isNotNull)
    Tables.documents(s, dir)
      .select(explode(pairs).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(BigramK)
  }

  /** x38: per-document out-of-vocabulary rate against the x36
    * vocabulary — the coverage score a tokenizer/corpus pairing is
    * judged by. The vocabulary (≤ `VocabK` rows) is broadcast, so the
    * token-level join is map-side; one keyed aggregate per doc follows.
    */
  val oovRate = Q.withOracle(
    "x38_oov_rate",
    s"x38: per-doc OOV token count/rate vs the top-$VocabK vocabulary",
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1),
      |vocab AS (SELECT token FROM counts
      |          QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, token) <= $VocabK)
      |SELECT t.doc_id, COUNT(*) AS n_tokens,
      |  COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS n_oov,
      |  CAST(COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS DOUBLE) / COUNT(*)
      |    AS oov_rate
      |FROM toks t LEFT JOIN vocab v USING (token)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val tk = docs.select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val v = vocab(docs).select(col("token"), lit(1).as("in_vocab"))
    tk.join(broadcast(v), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, lit(1))).as("n_oov"),
        (count(when(col("in_vocab").isNull, lit(1))).cast("double") /
          count(lit(1))).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** x40: per-document bigram language-model quality score — the
    * relational form of the perplexity filter a training pipeline runs
    * before admitting text (KenLM-style fluency scoring). The corpus's
    * own add-one-smoothed bigram model scores each document:
    * `P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V)` where `c(w1·)` is w1's
    * history count (the sum of its outgoing bigram counts) and V the
    * corpus vocabulary size; a document's score is the MEAN conditional
    * probability over its bigrams in document order. The arithmetic
    * mean of probabilities stands in for the usual mean log-prob because
    * libm `log` is the one primitive whose last ulp differs between
    * runtimes (the x33 BM25 lesson) — every step here is exact-integer
    * counts, one correctly-rounded division per bigram, and an
    * ORDERED left-fold sum (the x33/x10 technique), so the DuckDB
    * oracle is bit-exact.
    *
    * Scale shape: the LM tables are NOT broadcast — c12 and c1 are keyed
    * aggregates that stay distributed (at 100 TB the bigram table is
    * itself huge), the per-bigram probability lookup is two keyed
    * equi-joins, and the final per-doc regroup carries (i, p) pairs
    * only. Three shuffles, all on keys whose cardinality the corpus
    * bounds; nothing quadratic, nothing driver-side. */
  val bigramLmScore = Q.withOracle(
    "x40_bigram_lm_score",
    "x40: per-doc mean add-one-smoothed bigram conditional probability",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM d),
      |bg AS (SELECT doc_id, i, ts[i] AS w1, ts[i + 1] AS w2 FROM pos),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT t) AS v FROM
      |        (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
      |p AS (SELECT b.doc_id, b.i,
      |        CAST(c.c12 + 1 AS DOUBLE) / CAST(u.c1 + v.v AS DOUBLE) AS p
      |      FROM bg b JOIN c12 c USING (w1, w2) JOIN c1 u USING (w1) CROSS JOIN v),
      |s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY i)),
      |          (a, x) -> a + x) AS sp
      |      FROM p GROUP BY 1)
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  sp / n_bigrams AS score
      |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val t = toks(col("text"))
    // (doc_id, i, w1, w2) with 1-based bigram position — the fold order
    val bg = docs
      .select(col("doc_id"), posexplode(
        filter(zip_with(t, slice(t, lit(2), size(t)),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
          p => p.getField("w2").isNotNull)).as(Seq("i0", "p")))
      .select(col("doc_id"), (col("i0") + 1).as("i"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = docs.select(explode(t).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val p = bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v)) // one scalar row
      .select(col("doc_id"), col("i"),
        ((col("c12") + lit(1)).cast("double") /
          (col("c1") + col("v")).cast("double")).as("p"))
    p.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        array_sort(collect_list(struct(col("i"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        (aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p")) /
          col("n_bigrams")).as("score"))
      .orderBy(col("doc_id"))
  }

  /** x172: Kneser–Ney-smoothed bigram document scoring — the LM-quality
    * filter a production corpus pipeline actually runs (CCNet-style
    * perplexity filtering uses KN-smoothed n-gram models; x40's add-one
    * is the textbook baseline, KN is the one that works: it backs off
    * to how many CONTEXTS a word completes, not how often it occurs, so
    * "Francisco" — frequent but only ever after "San" — stops inflating
    * unseen-bigram mass). Interpolated bigram KN with absolute
    * discount D:
    *
    *   P(w|v) = max(c(vw) − D, 0)/c(v) + (D·N1+(v·)/c(v)) · N1+(·w)/|bigram types|
    *
    * D = 3/4 ON PURPOSE (the standard 0.75, and DYADIC): in quarter
    * units max(4·c(vw) − 3, 0) is an exact integer, so every term is
    * exact-integer-to-double with one correctly-rounded division or
    * multiply per step — the identical expression tree in both engines,
    * and the per-doc mean runs as the x40 ordered fold. No log anywhere
    * (libm parity would cost the hash; the mean conditional probability
    * ranks documents the same direction).
    *
    * Scale shape: ONE bigram aggregation (the corpus-bound shuffle);
    * c(v), N1+(v·), N1+(·w) and the type count all derive from that
    * bigram-TYPE table with bounded aggs; two keyed joins back to the
    * position table and one per-doc regroup — x40's shape plus one
    * join. */
  /** The KN-scoring oracle CTE prefix — everything up to `s` (per-doc
    * ordered-fold probability sums). Shared verbatim by x172 and x188 so
    * the bucket operator can never desynchronize from the score it
    * buckets. */
  private[graft] val knOracleCtes: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM d),
      |bg AS (SELECT doc_id, i, ts[i] AS w1, ts[i + 1] AS w2 FROM pos),
      |c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |        FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |         CAST(COUNT(*) AS BIGINT) AS n1v
      |       FROM c12 GROUP BY 1),
      |n1w AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1w FROM c12 GROUP BY 1),
      |bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbt FROM c12),
      |p AS (SELECT b.doc_id, b.i,
      |        CAST(GREATEST(4 * c.c12 - 3, 0) AS DOUBLE) / (4 * u.c1)
      |          + (3.0 * u.n1v / (4 * u.c1))
      |            * (CAST(r.n1w AS DOUBLE) / bt.nbt) AS p
      |      FROM bg b JOIN c12 c USING (w1, w2) JOIN c1 u USING (w1)
      |      JOIN n1w r USING (w2) CROSS JOIN bt),
      |s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(p ORDER BY i)),
      |          (a, x) -> a + x) AS sp
      |      FROM p GROUP BY 1)""".stripMargin

  val knScore = Q.withOracle(
    "x172_kneser_ney_score",
    "x172: per-doc mean Kneser-Ney (D=3/4) bigram conditional probability",
    s"""WITH $knOracleCtes
      |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
      |  sp / n_bigrams AS score
      |FROM s ORDER BY doc_id""".stripMargin)((s, dir) =>
    knScored(s, dir).orderBy(col("doc_id")))

  /** The x172 scoring frame — (doc_id, n_bigrams, score), unordered —
    * for operators that compose the KN quality score (x188 bucketing). */
  private[graft] def knScored(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val t = toks(col("text"))
    val bg = docs
      .select(col("doc_id"), posexplode(
        filter(zip_with(t, slice(t, lit(2), size(t)),
          (a, b) => struct(a.as("w1"), b.as("w2"))),
          p => p.getField("w2").isNotNull)).as(Seq("i0", "p")))
      .select(col("doc_id"), (col("i0") + 1).as("i"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"),
        count(lit(1)).cast("long").as("n1v"))
    val n1w = c12.groupBy(col("w2"))
      .agg(count(lit(1)).cast("long").as("n1w"))
    val bt = c12.agg(count(lit(1)).cast("long").as("nbt"))
    val p = bg.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .join(n1w, Seq("w2"))
      .crossJoin(broadcast(bt)) // one scalar row
      .select(col("doc_id"), col("i"),
        (greatest(lit(4) * col("c12") - 3, lit(0)).cast("double")
            / (lit(4) * col("c1"))
          + (lit(3.0) * col("n1v") / (lit(4) * col("c1")))
            * (col("n1w").cast("double") / col("nbt"))).as("p"))
    p.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        array_sort(collect_list(struct(col("i"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_bigrams"),
        (aggregate(col("ps"), lit(0.0), (acc, x) => acc + x.getField("p")) /
          col("n_bigrams")).as("score"))
  }

  /** x188: CCNet-style language-model quality bucketing (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data") — the production recipe behind LLaMA's CommonCrawl
    * slice: score every document with a per-language LM, sort WITHIN the
    * language, and cut the corpus into equal thirds — `head` (best
    * third), `middle`, `tail` (usually dropped or down-sampled). The LM
    * score is x172's Kneser–Ney mean bigram probability (higher = more
    * fluent = CCNet's lower perplexity; log-free so the double
    * hash-matches cross-engine), shared via [[knScored]]/[[knOracleCtes]]
    * so the bucket boundary can never drift from the score it buckets.
    * Docs with <2 tokens produce no bigrams and have no LM score — they
    * are outside the bucketed universe (x172's contract), the same way
    * CCNet only buckets what its LM can score.
    *
    * Scale shape: x172's cost plus a keyed lang join, then the exact
    * per-language NTILE(3) runs on the [[SegmentedRank]] machinery
    * (segment = floor(−score·4096), monotone in the descending score
    * order) — per-(lang, segment) windows in parallel, a bounded
    * offsets table broadcast back, NO corpus-wide or language-wide
    * single-reducer sort: at 100 TB a per-language window partition IS
    * corpus-sized, which is exactly the shape the registry's window
    * audit forbids. Per-language totals are a |langs|-row broadcast. */
  val ccnetBuckets = Q.withOracle(
    "x188_ccnet_buckets",
    "x188: CCNet head/middle/tail per-language buckets over the x172 KN score (exact per-lang NTILE(3), SegmentedRank — no language-wide sort)",
    s"""WITH $knOracleCtes,
       |sc AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |         sp / n_bigrams AS score FROM s),
       |wl AS (SELECT sc.*, dd.lang FROM sc JOIN documents dd USING (doc_id)),
       |r AS (SELECT *, NTILE(3) OVER (PARTITION BY lang
       |        ORDER BY score DESC, doc_id) AS b FROM wl)
       |SELECT doc_id, lang, n_bigrams, score,
       |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // checkpointed: the rank machinery reads its input twice (bounded
    // offsets aggregation + the in-segment window side), and without the
    // cut each read re-derived x172's whole three-shuffle KN pipeline
    // (the pre-r16 plan held 26 parquet scans)
    val sc = knScored(s, dir)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("negs", -col("score"))
      .withColumn("__seg", floor(col("negs") * 4096).cast("long"))
      .materialized
    val ranked = SegmentedRank.withGroupedRank(sc, Seq("lang"), "__seg",
      Seq(col("negs"), col("doc_id")), "rnk")
    // per-language scored-doc totals: every doc with ≥2 tokens yields
    // exactly one score row, so count them from the raw scan (one cheap
    // pass, no re-run of the scoring joins) — a |langs|-row broadcast
    val totals = docs
      .filter(size(toks(col("text"))) >= 2)
      .groupBy(col("lang")).agg(count(lit(1)).cast("long").as("nl"))
    ranked.join(broadcast(totals), "lang")
      .withColumn("b", SegmentedRank.ntileExpr(3, "rnk", "nl"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Minimum bigram support for x89 — collocation lift over rare pairs
    * is noise (a 1-count pair of two rare tokens has huge lift). */
  private val MinSupport = 10
  private val CollocK = 20

  /** x89: collocation extraction by LIFT — the association strength of
    * adjacent token pairs, P(ab) / (P(a)·P(b)), the log-free core of
    * PMI (log would cost cross-engine libm parity; lift ranks
    * identically because log is monotone). Exact integer counts feed a
    * fixed chain of IEEE divisions — identical expression tree both
    * engines, so even the float column hash-matches. x37 counts
    * bigrams; x89 NORMALIZES them — "of the" is frequent but not
    * associated, a true collocation is frequent GIVEN its parts.
    *
    * Scale shape: one bigram agg + one unigram agg (the two shuffles
    * any LM-statistics pass pays), unigram counts broadcast back (the
    * x38 posture), two 1-row scalars cross-joined, bounded top-k. */
  val collocations = Q.withOracle(
    "x89_collocation_lift",
    s"x89: top-$CollocK collocations by lift (support ≥ $MinSupport)",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |           len(string_split(text, ' ')) AS n FROM documents),
       |uni AS (SELECT unnest(toks) AS tok FROM d),
       |ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS nu FROM uni GROUP BY 1),
       |nu_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM uni),
       |pos AS (SELECT toks, unnest(generate_series(1, n - 1)) AS i FROM d),
       |bg AS (SELECT toks[i] AS a, toks[i + 1] AS b FROM pos),
       |bcnt AS (
       |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab FROM bg GROUP BY 1, 2
       |  HAVING COUNT(*) >= $MinSupport),
       |nb_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM bg)
       |SELECT c.a, c.b, c.nab,
       |  (CAST(c.nab AS DOUBLE) / nb_tot.nb)
       |    / ((CAST(ua.nu AS DOUBLE) / nu_tot.nt)
       |       * (CAST(ub.nu AS DOUBLE) / nu_tot.nt)) AS lift
       |FROM bcnt c
       |JOIN ucnt ua ON ua.tok = c.a
       |JOIN ucnt ub ON ub.tok = c.b
       |CROSS JOIN nu_tot CROSS JOIN nb_tot
       |ORDER BY lift DESC, a, b LIMIT $CollocK""".stripMargin) { (s, dir) =>
    val t = toks(col("text"))
    val docs = Tables.documents(s, dir)
    val uni = docs.select(explode(t).as("tok"))
    val ucnt = uni.groupBy(col("tok")).agg(count(lit(1)).as("nu"))
    val nuTot = uni.agg(count(lit(1)).as("nt"))
    val pairs = filter(
      zip_with(t, slice(t, lit(2), size(t)),
        (a, b) => struct(a.as("a"), b.as("b"))),
      p => p.getField("b").isNotNull)
    val bg = docs.select(explode(pairs).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bcnt = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= MinSupport)
    val nbTot = bg.agg(count(lit(1)).as("nb"))
    bcnt
      .join(broadcast(ucnt.select(col("tok").as("a"), col("nu").as("nua"))), "a")
      .join(broadcast(ucnt.select(col("tok").as("b"), col("nu").as("nub"))), "b")
      .crossJoin(broadcast(nuTot)).crossJoin(broadcast(nbTot))
      .select(col("a"), col("b"), col("nab"),
        ((col("nab").cast("double") / col("nb")) /
          ((col("nua").cast("double") / col("nt")) *
            (col("nub").cast("double") / col("nt")))).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b")).limit(CollocK)
  }

  /** Coverage-curve checkpoints: powers of two up to 2^16 — the range a
    * tokenizer-vocabulary decision actually scans. */
  private val CoverageKs: Seq[Long] = (0 to 16).map(1L << _)

  /** x132: vocabulary coverage curve — what share of all token
    * OCCURRENCES the top-k token TYPES cover, at k = 1, 2, 4, …, 65536.
    * This is the curve a tokenizer-vocab-size decision is read off
    * (Zipf corpora: a few thousand types cover most of the stream; the
    * long tail is where byte-fallback or OOV handling lives — x36/x38's
    * sizing question made quantitative).
    *
    * Scale shape: one token hash agg (the x36 counts), ONE
    * TakeOrderedAndProject to the top-2^16 types — a CONSTANT bound, so
    * the ranked table the curve reads never scales with the corpus —
    * and a per-row explode of the checkpoints ≥ its rank (≤ 17-way
    * fan-out of a bounded table; no cross join). The grand totals ride
    * a 1-row broadcast. The rank window runs AFTER the constant-bound
    * truncation, the x36 posture. */
  val vocabCoverage = Q.withOracle(
    "x132_vocab_coverage",
    "x132: top-k vocabulary occurrence-coverage curve at power-of-two checkpoints",
    s"""WITH c AS MATERIALIZED (
       |  SELECT t.t AS token, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM documents, LATERAL (SELECT unnest(string_split(text, ' ')) AS t) t
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
       |r AS (
       |  SELECT cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT)
       |    AS rnk
       |  FROM c),
       |cov AS (
       |  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS covered_tokens,
       |    CAST(SUM(cnt) AS BIGINT) AS covered_occurrences
       |  FROM r, LATERAL (SELECT unnest([${CoverageKs.mkString(", ")}]) AS k) AS ks
       |  WHERE rnk <= ks.k GROUP BY 1)
       |SELECT CAST(k AS BIGINT) AS k, covered_tokens, covered_occurrences,
       |  CAST(covered_occurrences AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
       |FROM cov, tot ORDER BY k""".stripMargin) { (s, dir) =>
    val counts = tokenCounts(graft.Tables.documents(s, dir))
    val tot = counts.agg(sum(col("cnt")).cast("long").as("total"))
    val kMax = CoverageKs.max
    val top = counts
      .orderBy(col("cnt").desc, col("token")).limit(kMax.toInt)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token"))).cast("long"))
    val ksArr = s"array(${CoverageKs.map(k => s"${k}L").mkString(", ")})"
    top
      .withColumn("k", explode(expr(s"filter($ksArr, k -> k >= rnk)")))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("covered_tokens"),
        sum(col("cnt")).cast("long").as("covered_occurrences"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("covered_tokens"), col("covered_occurrences"),
        (col("covered_occurrences").cast("double") / col("total").cast("double"))
          .as("coverage"))
      .orderBy(col("k"))
  }

  /** x162: Good–Turing unseen mass + Chao1 richness per language — "how
    * much of this language's token distribution have we NOT seen, and
    * how many types exist in the full population?" — the two classic
    * coverage estimators a pretraining-corpus audit runs before calling
    * a language 'covered'. Good–Turing's leave-one-out identity gives
    * P(next token is a new type) = N₁/N (hapax count over token count);
    * Chao1's abundance estimator gives richness ≥ V + N₁²/(2·N₂). Both
    * are pure rationals of exact integer counts (one IEEE division each;
    * N₁² ≤ 10¹² ≪ 2⁵³), so the oracle replays them bit-for-bit. N₂ = 0
    * yields an honest NULL Chao1 (the estimator is undefined, not ∞).
    *
    * Scale shape: one (lang, token) hash agg over the corpus — the x36
    * vocab shuffle with a lang prefix — then a |langs|-row rollup of
    * the frequency-of-frequency counts. Nothing else touches the
    * corpus; output is one row per language. */
  val goodTuring = Q.withOracle(
    "x162_good_turing",
    "x162: per-language Good-Turing unseen mass + Chao1 richness estimate",
    """WITH toks AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (
      |  SELECT lang, token, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |ff AS (
      |  SELECT lang,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM counts GROUP BY 1)
      |SELECT lang, n_tokens, n_types, n1, n2,
      |  CAST(n1 AS DOUBLE) / n_tokens AS unseen_mass,
      |  CASE WHEN n2 > 0
      |    THEN n_types + CAST(n1 * n1 AS DOUBLE) / (2 * n2) END AS chao1
      |FROM ff ORDER BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), explode(toks(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("n1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long").as("n2"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n1"), col("n2"),
        (col("n1").cast("double") / col("n_tokens")).as("unseen_mass"),
        when(col("n2") > 0,
          col("n_types") + (col("n1") * col("n1")).cast("double")
            / (lit(2) * col("n2"))).as("chao1"))
      .orderBy(col("lang"))
  }

  val all: Seq[Q] = Seq(rrfFusion, chunkSliding, vocabTopK, bigramCounts,
    oovRate, bigramLmScore, knScore, ccnetBuckets, collocations,
    vocabCoverage, goodTuring)
}
