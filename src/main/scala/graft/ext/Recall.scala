package graft.ext

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** ANN quality evaluation — recall@k of the approximate index against
  * the brute-force ground truth, as a first-class QUERY. The ANN family
  * (x5 brute, x6 LSH, x12 IVF, x50 PQ, x51 IVF-PQ) ships speed tiers;
  * this is the measurement a deployment runs before trusting one: both
  * pipelines are deterministic (md5 seeds, integer Lloyd, fixed tie
  * rules), so even the RECALL itself replays bit-exactly in the oracle
  * — the accuracy evaluation is as hash-verifiable as the operators it
  * evaluates.
  *
  * Scale shape: the composition of its two inputs (each already
  * scale-audited); the join/agg on top touches only 2·queries·k rows of
  * id pairs — evaluation metadata, never the corpus.
  */
object Recall {

  /** x88: per-query recall@5 of IVF (x12) against exact brute force
    * (x5) — n_hits = |IVF top-k ∩ exact top-k|, recall = n_hits/k. */
  val annRecall = Q.withOracle(
    "x88_ann_recall",
    "x88: recall@5 of the x12 IVF index vs the x5 exact top-k, per query",
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |${Similarity.bruteForceKnn.oracle.get})),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |${Ivf.ivfAnn.oracle.get}))
       |SELECT e.query_id,
       |  CAST(COUNT(c.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(COUNT(c.neighbor_id) AS DOUBLE) / ${Similarity.TopK} AS recall
       |FROM exact e LEFT JOIN cand c
       |  ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin) { (s, dir) =>
    val exact = Similarity.bruteForceKnn.fn(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val cand = Ivf.ivfAnn.fn(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(cand, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).cast("long").as("n_hits"),
        (count(col("hit")).cast("double") / Similarity.TopK).as("recall"))
      .orderBy(col("query_id"))
  }

  /** lcm(1..5)·TopK — the exact-rational AP denominator: AP@5 · 300 is
    * an INTEGER (60/i is integral for every rank i ≤ 5), so the
    * rank-weighted metric needs no float sum at all. */
  private val ApDenom = 60 * Similarity.TopK

  /** x156: average precision@5 of the IVF index vs the exact top-k —
    * recall (x88) ignores WHERE in the list the hits land; AP weights
    * early hits more (precision-at-each-relevant-rank, the MAP
    * constituent every retrieval eval reports next to recall). All
    * arithmetic exact: rel ∈ {0,1} from the id join, the prefix count
    * is a 5-row partitioned window, and AP·300 = Σ rel_i·cum_i·(60/i)
    * is an integer sum — ONE double division at the end, so the oracle
    * replays the metric bit-for-bit (the x88 posture: the evaluation
    * is as hash-verifiable as the operators it evaluates).
    *
    * Scale: joins/windows touch only queries·k id rows — evaluation
    * metadata, never the corpus. */
  val annAp = Q.withOracle(
    "x156_ann_ap",
    s"x156: average precision@${Similarity.TopK} of x12 IVF vs x5 exact, per query",
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |${Similarity.bruteForceKnn.oracle.get})),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rank FROM (
       |${Ivf.ivfAnn.oracle.get})),
       |rel AS MATERIALIZED (
       |  SELECT c.query_id, c.rank,
       |    CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
       |  FROM cand c LEFT JOIN exact e
       |    ON e.query_id = c.query_id AND e.neighbor_id = c.neighbor_id),
       |pre AS MATERIALIZED (
       |  SELECT query_id, rank, rel,
       |    SUM(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cum
       |  FROM rel)
       |SELECT query_id,
       |  CAST(SUM(rel) AS BIGINT) AS n_hits,
       |  CAST(SUM(rel * cum * (60 // rank)) AS BIGINT) AS ap_num,
       |  CAST(SUM(rel * cum * (60 // rank)) AS DOUBLE) / $ApDenom.0 AS ap
       |FROM pre GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val exact = Similarity.bruteForceKnn.fn(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val cand = Ivf.ivfAnn.fn(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val rel = cand.join(exact, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"),
        when(col("hit").isNull, 0L).otherwise(1L).as("rel"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
    rel.withColumn("cum", sum(col("rel")).over(w))
      .groupBy(col("query_id"))
      .agg(sum(col("rel")).cast("long").as("n_hits"),
        sum(col("rel") * col("cum") * expr("60 div rank")).cast("long").as("ap_num"),
        (sum(col("rel") * col("cum") * expr("60 div rank")).cast("double")
          / lit(ApDenom.toDouble)).as("ap"))
      .orderBy(col("query_id"))
  }

  /** Matryoshka prefix lengths evaluated by x179 (of the 64-dim
    * embeddings): the dims a production retrieval stack would route with
    * (coarse stage) before re-ranking at full width. */
  private val MrlDims = Seq(16, 32)

  /** x179: Matryoshka truncation recall — recall@k of brute-force cosine
    * over PREFIX-truncated embeddings vs the full-width exact top-k
    * (Kusupati et al. 2022, "Matryoshka Representation Learning": MRL
    * embeddings are trained so any prefix is itself a usable embedding;
    * the deployment question is how much retrieval quality each prefix
    * width keeps, because a 4× shorter vector is a 4× cheaper scan and
    * a 4× smaller index). One row per (dim, query): hits against the
    * 64-dim truth and the recall ratio — the curve a team reads before
    * picking the routing width.
    *
    * Exactness: the truncated cosine is the SAME strict left-to-right
    * fold as x5 over the first m coordinates (slice, then the native
    * codegen'd expression; the oracle mirrors with generate_series(1,m))
    * — bit-identical doubles, deterministic (cos desc, id) ranking, and
    * the recall division is the x88 exact pattern.
    *
    * Scale shape: per dim, exactly x5's posture — the ≤NumQueries query
    * panel broadcasts, the corpus streams map-side, and the only shuffle
    * is the (dim, query)-partitioned top-k window over panel×N rows.
    * The production path this evaluates (truncate → coarse top-C →
    * full-width re-rank) touches the wide vectors only C times per
    * query; this eval intentionally scans both widths to measure the
    * trade. */
  val mrlRecall = Q.withOracle(
    "x179_matryoshka_recall",
    s"x179: recall@${Similarity.TopK} of prefix-truncated cosine vs full-width exact, per (dim, query)",
    s"""WITH dims AS (SELECT unnest([${MrlDims.mkString(", ")}]) AS m),
       |vm AS MATERIALIZED (
       |  SELECT d.m, v.vec_id, v.embedding,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, d.m),
       |        i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings v CROSS JOIN dims d),
       |pairs AS (
       |  SELECT q.m, q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    CASE WHEN q.nrm * n.nrm = 0 THEN NULL ELSE
       |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(generate_series(1, q.m),
       |          i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE))),
       |        (a, x) -> a + x) / (q.nrm * n.nrm) END AS cos
       |  FROM vm q JOIN vm n ON n.m = q.m AND n.vec_id <> q.vec_id
       |  WHERE q.vec_id < ${Similarity.NumQueries}),
       |cand AS (
       |  SELECT m, query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY m, query_id
       |      ORDER BY cos DESC NULLS LAST, neighbor_id) AS rank
       |    FROM pairs)
       |  WHERE rank <= ${Similarity.TopK}),
       |exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |${Similarity.bruteForceKnn.oracle.get}))
       |SELECT CAST(d.m AS BIGINT) AS dim, e.query_id,
       |  CAST(COUNT(c.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(COUNT(c.neighbor_id) AS DOUBLE) / ${Similarity.TopK} AS recall
       |FROM (SELECT m FROM dims) d
       |CROSS JOIN exact e
       |LEFT JOIN cand c
       |  ON c.m = d.m AND c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
       |GROUP BY d.m, e.query_id
       |ORDER BY dim, e.query_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vd"))
    val perDim = MrlDims.map { m =>
      val q = v.filter(col("vec_id") < Similarity.NumQueries)
        .select(col("vec_id").as("query_id"), slice(col("vd"), 1, m).as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      v.select(col("vec_id").as("neighbor_id"), slice(col("vd"), 1, m).as("nv"))
        .crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cos",
          graft.functions.CosineSimilarity.cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= Similarity.TopK)
        .select(lit(m.toLong).as("dim"), col("query_id"), col("neighbor_id"),
          lit(1).as("hit"))
    }.reduce(_ unionByName _)
    val exact = Similarity.bruteForceKnn.fn(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val dims = MrlDims.map(m => s.range(1).select(lit(m.toLong).as("dim")))
      .reduce(_ unionByName _)
    exact.crossJoin(broadcast(dims))
      .join(perDim, Seq("dim", "query_id", "neighbor_id"), "left")
      .groupBy(col("dim"), col("query_id"))
      .agg(count(col("hit")).cast("long").as("n_hits"),
        (count(col("hit")).cast("double") / Similarity.TopK).as("recall"))
      .orderBy(col("dim"), col("query_id"))
  }

  val all: Seq[Q] = Seq(annRecall, annAp, mrlRecall)
}
