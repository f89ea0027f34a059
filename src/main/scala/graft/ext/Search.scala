package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the documents corpus — the search half of a
  * training-data pipeline (find the documents most relevant to a probe
  * query: decontamination triage, corpus QA, eval-set mining).
  *
  * Reference scope being re-expressed: the reference's analytics surface
  * is SQL aggregation only; ranked retrieval is part of the LLM-pipeline
  * extension surface this engine adds (builder brief: text analysis /
  * curation ops over `documents`).
  *
  * Scale shape: the query-term list is tiny and broadcast, so the
  * corpus-side work is filter-first — only tokens matching a query term
  * survive past the first map-side join, and every later aggregate is
  * keyed on (query, doc). Nothing in the pipeline holds more than
  * k rows per key (final top-k runs through the bounded-heap
  * TopKPerKey plan node, not a window over millions of docs per query
  * partition).
  */
object Search {

  /** BM25 constants — the standard Robertson defaults. Written as exact
    * literals so both engines fold them to identical doubles. */
  private val K1 = 1.2
  private val B = 0.75

  /** The probe queries, inline and deterministic: (query_id, term).
    * Terms are unique across queries so df/tf can be keyed by term.
    * Shared with [[Corpus]]'s rank-fusion op so both retrieval surfaces
    * answer the same probes. */
  private[ext] val QueryTerms: Seq[(Int, String)] = Seq(
    1 -> "hash", 1 -> "join", 1 -> "merge",
    2 -> "vector", 2 -> "scan", 2 -> "filter",
    3 -> "customer", 3 -> "order", 3 -> "data")

  private[ext] val qtValues =
    QueryTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** x33: BM25 top-5 documents per probe query.
    *
    * Cross-engine exactness: every arithmetic step is +,-,*,/ on values
    * derived from exact integers, with the evaluation order written
    * identically in both engines (IEEE ops are correctly rounded, so
    * same order ⇒ same bits). Decimal-literal trap: a bare `2.2` in
    * DuckDB is DECIMAL, and BIGINT×DECIMAL is computed exactly then
    * rounded ONCE to double — one fewer rounding than Spark's
    * double×double (differs at tf=3 by 1 ulp). Any literal that is not
    * exactly representable in binary must be CAST AS DOUBLE in the
    * oracle when its other operand is an integer. The idf uses the +1-smoothed ratio form
    * `(N - df + 0.5)/(df + 0.5) + 1` (BM25+ style, always positive —
    * and log-free: libm log is the one op whose last ulp differs
    * between runtimes). The per-doc score sums term contributions
    * through an ORDERED fold (sort by term, then left-fold add) rather
    * than a SUM aggregate, because double addition is not associative
    * and an unordered SUM's result depends on partitioning — the x10
    * fingerprint technique applied to floats.
    */
  val bm25TopK = Q.withOracle(
    "x33_bm25_topk",
    "x33: BM25 ranked retrieval, top-5 docs per probe query",
    s"""WITH qt(query_id, term) AS (VALUES $qtValues),
      |dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |mt AS (SELECT q.query_id, t.doc_id, t.term FROM toks t JOIN qt q USING (term)),
      |tf AS (SELECT query_id, doc_id, term, COUNT(*) AS tf FROM mt GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM mt GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl FROM dl),
      |contrib AS (
      |  SELECT tf.query_id, tf.doc_id, tf.term,
      |    (((CAST(n AS DOUBLE) - df) + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * CAST(2.2 AS DOUBLE))
      |      / (tf + 1.2 * (0.25 + (0.75 * dl) / (CAST(sdl AS DOUBLE) / n))) AS c
      |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
      |scored AS (
      |  SELECT query_id, doc_id,
      |    list_reduce(
      |      list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
      |      (a, b) -> a + b) AS score
      |  FROM contrib GROUP BY 1, 2)
      |SELECT query_id, doc_id, score FROM scored
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
      |  ORDER BY score DESC, doc_id) <= 5
      |ORDER BY query_id, score DESC, doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val qt = s.createDataFrame(QueryTerms).toDF("query_id", "term")
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // Filter-first: only query-term tokens survive this broadcast join.
    val mt = toks.join(broadcast(qt), "term")
    val tf = mt.groupBy(col("query_id"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = mt.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    // Evaluation order mirrors the oracle SQL token-for-token.
    val idf = ((col("n").cast("double") - col("df")) + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0)
    val denom = col("tf") +
      lit(K1) * (lit(1.0 - B) + (lit(B) * col("dl")) /
        (col("sdl").cast("double") / col("n")))
    val contrib = tf
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("term"),
        (idf * (col("tf") * lit(K1 + 1.0)) / denom).as("c"))
    val scored = contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("term").as("t"), col("c").as("c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("c")).as("score"))
    graft.plans.TopKPerKey
      .topKPerKey(scored, Seq("query_id"), Seq(("score", false), ("doc_id", true)), k = 5)
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
  }

  /** x87 query phrase — two high-frequency corpus tokens, so every SF
    * returns hits (single-token retrieval is x33's term job; the
    * phrase operator exists for the ADJACENCY constraint). */
  private val Phrase = "the table"

  /** x87: exact phrase search — top-k documents by occurrence count of
    * an adjacent-token phrase. BM25 (x33) ranks by bag-of-words; the
    * phrase operator enforces ORDER, the thing an inverted index needs
    * positions for. Here it is a pure MAP through the codegen'd
    * [[graft.functions.PhraseCount]] expression — a single in-place
    * sliding-window pass over the token array, no explode, no position
    * self-join, nothing shuffled but the bounded top-k. (The
    * higher-order `size(filter(transform(...)))` formulation measured
    * 3.0 s at sf0.1 — boxed evaluation allocating every candidate
    * bigram; the expression is the ShingleHash3 lesson reapplied.)
    * Longer phrases generalize by the phrase literal's arity, not by
    * extra joins. */
  val phraseSearch = Q.withOracle(
    "x87_phrase_search",
    s"""x87: exact-phrase top-20 docs ("$Phrase"), adjacency-aware, map-only""",
    s"""WITH occ AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(
       |      list_transform(generate_series(1, len(t) - 1),
       |        i -> t[i] || ' ' || t[i+1]),
       |      g -> g = '$Phrase')) AS BIGINT) AS n_occurrences
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
       |SELECT doc_id, n_occurrences
       |FROM occ WHERE n_occurrences > 0
       |ORDER BY n_occurrences DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.PhraseCount.phraseCount(
          split(col("text"), " "), lit(Phrase)).as("n_occurrences"))
    occ.filter(col("n_occurrences") > 0)
      .orderBy(col("n_occurrences").desc, col("doc_id")).limit(20)
  }

  val all: Seq[Q] = Seq(bm25TopK, phraseSearch)
}
