package graft.ext

import graft.{Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document corpus analysis over the 3-gram space — two QA
  * operators a curation pipeline runs before training:
  *
  *  - x71 novelty: what fraction of each doc's distinct grams does it
  *    OWN (= it is the lowest-id document containing the gram)? Low
  *    novelty late in a crawl means the feed has gone stale; it is the
  *    per-doc complement of x42's span coverage (x42 asks "how much of
  *    me is repeated anywhere", x71 asks "how much of me arrived here
  *    FIRST").
  *  - x72 overlap: the source×source matrix of shared distinct grams
  *    with Jaccard normalization — the "how contaminated is source A
  *    with source B's content" matrix that decides dedup ordering and
  *    mixture weights between feeds.
  *
  * Scale shape: both ride ONE gram-keyed shuffle of the exploded corpus
  * (the x42/x43 lesson: window/agg on the gram key, never a re-scan
  * join-back). x71's ownership is a window-min over the gram key; x72's
  * pair expansion is bounded by C(|sources|, 2) per gram — never
  * quadratic in documents. The gram KEY is the literal string, not a
  * 64-bit hash (x42's scaladoc carries the birthday-bound argument).
  */
object Novelty {

  private def novelOracle: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |ge AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |    FROM toks)),
      |own AS MATERIALIZED (SELECT g, MIN(doc_id) AS owner FROM ge GROUP BY g),
      |per AS MATERIALIZED (
      |  SELECT ge.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(COUNT(*) FILTER (WHERE ge.doc_id = own.owner) AS BIGINT) AS n_novel
      |  FROM ge JOIN own USING (g) GROUP BY ge.doc_id)
      |SELECT d.doc_id, COALESCE(per.n_grams, 0) AS n_grams,
      |  COALESCE(per.n_novel, 0) AS n_novel,
      |  CASE WHEN per.n_grams IS NULL THEN NULL
      |       ELSE CAST(per.n_novel AS DOUBLE) / per.n_grams END AS novelty
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** x71: per-doc first-arrival novelty over distinct 3-grams. */
  val gramNovelty = Q.withOracle(
    "x71_gram_novelty",
    "x71: per-doc fraction of distinct 3-grams it introduced (lowest doc_id owns)",
    novelOracle) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val ge = docs.select(col("doc_id"),
        explode(graft.functions.ShingleStr3.shingleStr3(split(col("text"), " "))).as("g"))
      .distinct()
    // ownership as a window-min on the ONE gram-keyed shuffle (the x42
    // rewrite: an agg + join-back would rescan the exploded corpus)
    val per = ge
      .withColumn("owner", min(col("doc_id")).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("doc_id") === col("owner"), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_grams").isNull, lit(null).cast("double"))
          .otherwise(col("n_novel").cast("double") / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  private def overlapOracle: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT source, string_split(text, ' ') AS t FROM documents),
      |gs AS MATERIALIZED (
      |  SELECT DISTINCT source, g FROM (
      |    SELECT source, unnest(list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |    FROM toks)),
      |tot AS MATERIALIZED (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM gs GROUP BY source),
      |sh AS MATERIALIZED (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM gs a JOIN gs b ON a.g = b.g AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT sh.src_a, sh.src_b, sh.n_shared, ta.n AS n_a, tb.n AS n_b,
      |  CAST(sh.n_shared AS DOUBLE) / (ta.n + tb.n - sh.n_shared) AS jaccard
      |FROM sh JOIN tot ta ON ta.source = sh.src_a
      |JOIN tot tb ON tb.source = sh.src_b
      |ORDER BY sh.src_a, sh.src_b""".stripMargin

  /** x72: source×source shared-gram matrix with Jaccard normalization —
    * pairs with zero overlap are absent (their row carries no
    * information and would otherwise force a bounded-but-pointless
    * source cross join). */
  val sourceOverlap = Q.withOracle(
    "x72_source_overlap",
    "x72: cross-source distinct-3-gram overlap matrix (shared counts + Jaccard)",
    overlapOracle) { (s, dir) =>
    val gs = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.ShingleStr3.shingleStr3(split(col("text"), " "))).as("g"))
      .distinct()
      .materialized // feeds the totals, and BOTH sides of the pair join
    val tot = gs.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n"))
    val sh = gs.as("a").join(gs.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
    sh.join(broadcast(tot.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared"))).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** x164: weighted Jaccard (Ruzicka similarity) between source token
    * DISTRIBUTIONS — x72's multiset counterpart: where x72 asks "how
    * many distinct grams do two sources share?", x164 asks "how much
    * token MASS do they share?", J_w = Σ_t min(w_a, w_b) / Σ_t
    * max(w_a, w_b) — the measure that separates 'same vocabulary, very
    * different usage' from genuine distributional overlap (near-1 J_w
    * between sources means one of them adds little diversity to a
    * training mix). The max-sum never materializes: Σmax = tot_a +
    * tot_b − Σmin (min+max = a+b holds per token, including tokens
    * absent on one side), so only the INNER join on shared tokens runs
    * — everything is exact integer counts with one final division.
    *
    * Scale shape: one (source, token) hash agg, one token-keyed
    * equi-join whose per-token fan-out is bounded by |sources|, one
    * pair-keyed agg; totals broadcast. Output ≤ C(|sources|, 2) rows. */
  val ruzickaSources = Q.withOracle(
    "x164_ruzicka_sources",
    "x164: weighted-Jaccard (Ruzicka) token-mass overlap between sources",
    """WITH cnt AS MATERIALIZED (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS w FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  GROUP BY 1, 2),
      |tot AS MATERIALIZED (
      |  SELECT source, CAST(SUM(w) AS BIGINT) AS n FROM cnt GROUP BY 1),
      |mn AS MATERIALIZED (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(SUM(LEAST(a.w, b.w)) AS BIGINT) AS min_sum
      |  FROM cnt a JOIN cnt b ON a.token = b.token AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT mn.src_a, mn.src_b, mn.min_sum, ta.n AS tot_a, tb.n AS tot_b,
      |  CAST(mn.min_sum AS DOUBLE) / (ta.n + tb.n - mn.min_sum) AS jw
      |FROM mn JOIN tot ta ON ta.source = mn.src_a
      |JOIN tot tb ON tb.source = mn.src_b
      |ORDER BY mn.src_a, mn.src_b""".stripMargin) { (s, dir) =>
    val cnt = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("w"))
      .materialized // feeds the totals, and BOTH sides of the pair join
    val tot = cnt.groupBy(col("source")).agg(sum(col("w")).cast("long").as("n"))
    val mn = cnt.as("a").join(cnt.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(least(col("a.w"), col("b.w"))).cast("long").as("min_sum"))
    mn.join(broadcast(tot.select(col("source").as("src_a"), col("n").as("tot_a"))),
        "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("tot_b"))),
        "src_b")
      .select(col("src_a"), col("src_b"), col("min_sum"), col("tot_a"),
        col("tot_b"),
        (col("min_sum").cast("double")
          / (col("tot_a") + col("tot_b") - col("min_sum"))).as("jw"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val all: Seq[Q] = Seq(gramNovelty, sourceOverlap, ruzickaSources)
}
