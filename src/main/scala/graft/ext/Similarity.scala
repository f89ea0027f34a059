package graft.ext

import graft.{Q, Tables}
import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (Array[Float], 64-dim):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Numeric parity: dot products and norms are computed as strict
  * left-to-right double folds over the vector (`zip_with` + `aggregate`),
  * which the DuckDB oracle mirrors with `list_transform` + `list_reduce`
  * — identical operation order → bit-identical doubles, no tolerance
  * needed.
  *
  * Scale design (100 TB of vectors):
  * - Brute force is O(Q·N) — used with a small broadcast query set; the
  *   big side streams, never shuffles.
  * - The LSH variant buckets vectors by 16 sign bits of random-hyperplane
  *   projections (deterministic hash-derived planes, no stored model),
  *   then searches only same-bucket candidates: one shuffle on bucket id,
  *   candidate count ~ N/2^16 per bucket. An IVF upgrade would k-means
  *   the planes; the plumbing (bucket → probe → verify) is identical.
  */
object Similarity {

  private[ext] val NumQueries = 20
  private[graft] val TopK = 5
  /** Multi-table LSH: L tables × b sign bits. Few bits per table keeps
    * buckets populated at test scale; at 100 TB you'd raise b with N
    * (bucket occupancy ~ N/2^b) and keep L for recall. */
  val NumTables = 4
  val BitsPerTable = 4

  /** x5: exact brute-force cosine top-k for a fixed query set. */
  val bruteForceKnn = Q.withOracle(
    "x5_cosine_topk",
    "brute-force cosine top-5 neighbors for query vectors",
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(q.embedding)),
       |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE))),
       |      (a, x) -> a + x) / (q.nrm * n.nrm) AS cos
       |  FROM v q JOIN v n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, cos FROM ranked
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vd"))
    val q = v.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"))
    val n = v.select(col("vec_id").as("neighbor_id"), col("vd").as("nv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    n.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding dimensionality (the testdata/embeddings contract). */
  val Dim = 64

  /** Plane p's ±1 weight for dimension d — delegated to the native
    * expression's matrix so the oracle's inlined literals and the
    * executed fold share ONE derivation (parity of the first hex nibble
    * of md5("hp_p_d"): deterministic, nothing stored or trained, and
    * engine-portable so the whole LSH pipeline has a hard oracle). */
  private[ext] def weight(p: Int, d: Int): Double =
    graft.functions.SignBuckets.weight(p, d)

  /** Random-hyperplane sign buckets, one row per (vec_id, tbl): table
    * t's bucket packs the sign bits of planes [t*b, t*b+b). MAP-ONLY
    * (the round-4 posexplode + double-groupBy formulation paid two
    * shuffles per bucketing pass), via the native `sign_buckets`
    * expression — one fused pass per vector; the composed 16×64-term
    * projection select was oracle-exact too but fell out of whole-stage
    * codegen's method budget (measured 0.69s → 2.5s at sf0.1). */
  private[ext] def bucketed(e: DataFrame): DataFrame = {
    e.select(col("vec_id"),
      posexplode(graft.functions.SignBuckets.signBuckets(col("embedding")))
        .as(Seq("tbl", "bucket")))
  }

  /** Candidate (query, neighbor) pairs from the sign buckets. With
    * `multiProbe` on, each query additionally probes every 1-bit-flipped
    * neighbor of its bucket in every table — the standard multi-probe LSH
    * recall boost (Lv et al., VLDB'07): a near neighbor that lands one
    * sign bit away is still found, at the cost of (1+b)× more PROBE rows,
    * not more tables. Only the tiny broadcast query side fans out; the
    * big side still contributes exactly one row per (vector, table). */
  private[graft] def lshCandidates(e: DataFrame, multiProbe: Boolean): DataFrame = {
    val buckets = bucketed(e)
    val qb0 = buckets.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
    val qb =
      if (!multiProbe) qb0
      else qb0.select(col("query_id"), col("tbl"),
        explode(array(col("bucket") +: (0 until BitsPerTable).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i))): _*)).as("bucket"))
    val nb = buckets
      .select(col("vec_id").as("neighbor_id"), col("tbl"), col("bucket"))
    // candidates: share any probed bucket (multi-table union → distinct)
    nb.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
  }

  /** DuckDB twin of x6: the same inlined ±1 weight matrix, the same
    * left-associated 64-term projection sums (bit-identical doubles →
    * identical sign buckets), the same multi-probe expansion, and x5's
    * deterministic-fold cosine for the verify/rank stage. */
  /** SQL for the per-table sign-bucket columns — shared by the x6 and
    * x32 oracles; the same weight matrix the native expression uses. */
  private def bucketSqlCols: String = {
    def projSql(p: Int): String =
      (0 until Dim).map(d => s"CAST(embedding[${d + 1}] AS DOUBLE) * ${weight(p, d)}")
        .mkString(" + ")
    (0 until NumTables).map { t =>
      val bits = (0 until BitsPerTable).map { b =>
        s"(CASE WHEN ${projSql(t * BitsPerTable + b)} >= 0 THEN ${1 << b} ELSE 0 END)"
      }.mkString(" + ")
      s"$bits AS bucket$t"
    }.mkString(",\n    ")
  }

  private def bandSqlSelects: String =
    (0 until NumTables).map { t =>
      s"SELECT vec_id, $t AS tbl, bucket$t AS bucket FROM bk"
    }.mkString("\n  UNION ALL ")

  private def annLshOracle: String = {
    val bucketCols = bucketSqlCols
    val bandSelects = bandSqlSelects
    val probeSelects = "SELECT query_id, tbl, bucket FROM qb" +:
      (0 until BitsPerTable).map { i =>
        s"SELECT query_id, tbl, xor(bucket, ${1 << i}) AS bucket FROM qb"
      }
    s"""WITH bk AS MATERIALIZED (
       |  SELECT vec_id,
       |    $bucketCols
       |  FROM embeddings),
       |banded AS MATERIALIZED (
       |  $bandSelects),
       |qb AS MATERIALIZED (
       |  SELECT vec_id AS query_id, tbl, bucket FROM banded WHERE vec_id < $NumQueries),
       |probes AS MATERIALIZED (
       |  ${probeSelects.mkString("\n  UNION ALL ")}),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
       |  FROM banded n JOIN probes p ON n.tbl = p.tbl AND n.bucket = p.bucket
       |  WHERE n.vec_id <> p.query_id),
       |v AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(q.embedding)),
       |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE))),
       |      (a, x) -> a + x) / (q.nrm * n.nrm) AS cos
       |  FROM cand c
       |  JOIN v q ON q.vec_id = c.query_id
       |  JOIN v n ON n.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, cos FROM ranked
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  /** x6: LSH-bucketed approximate top-k — same query set as x5, searching
    * only bucket-mate candidates under multi-probe. Full DuckDB oracle
    * since round 5 (portable inlined hyperplanes); ExtSpec additionally
    * pins recall vs x5 strictly above the single-probe variant. */
  val annLsh = Q.withOracle(
    "x6_ann_lsh_topk",
    "random-hyperplane LSH multi-probe approximate top-5",
    annLshOracle)(
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cand = lshCandidates(e, multiProbe = true)
      val v = e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vd"))
      val q = v.select(col("vec_id").as("query_id"), col("vd").as("qv"))
      val n = v.select(col("vec_id").as("neighbor_id"), col("vd").as("nv"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
      cand.join(n, "neighbor_id").join(broadcast(q), "query_id")
        .withColumn("cos", cosineSim(col("qv"), col("nv")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
        .orderBy(col("query_id"), col("rank"))
    })

  /** x14: embedding-cosine near-duplicate detection — the dedup face of
    * similarity: pairs above a cosine threshold, keep-lowest-id survivor
    * marking. Bounded to the first 500 vectors so the all-pairs oracle
    * stays cheap; the scale path swaps the pair source for the LSH/IVF
    * bucket candidates (x6/x12) with identical verify semantics. */
  val cosineDedup = Q.withOracle(
    "x14_embedding_dedup",
    "cosine near-dup pairs >= 0.3 with survivor marking",
    """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
      |pairs AS (
      |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(generate_series(1, len(a.embedding)),
      |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
      |      (x, y) -> x + y)
      |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |         list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |         (x, y) -> x + y))
      |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |         list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |         (x, y) -> x + y))) AS cos
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
      |SELECT keep_id, dup_id, cos FROM pairs WHERE cos >= 0.3
      |ORDER BY keep_id, dup_id""".stripMargin) { (s, dir) =>
    val v = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vd"))
    val a = v.select(col("vec_id").as("keep_id"), col("vd").as("va"))
    val b = v.select(col("vec_id").as("dup_id"), col("vd").as("vb"))
    a.join(b, col("keep_id") < col("dup_id"))
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= 0.3)
      .select(col("keep_id"), col("dup_id"), col("cos"))
      .orderBy(col("keep_id"), col("dup_id"))
  }

  /** x32: the SCALE path for embedding near-dup dedup made concrete —
    * x14's scaladoc promises "the pair source swaps to the LSH bucket
    * candidates at scale with identical verify semantics"; this is that
    * composition, registered and oracle-checked: sign-bucket the
    * vectors (map-only native expression), expand candidate pairs only
    * WITHIN (table, bucket) groups via collect_list (each vector row
    * shuffles once — never an all-pairs join), then verify candidates
    * with the exact deterministic-fold cosine and keep-lowest-id
    * survivor marking. Bounded to x14's vec_id < 500 window so the spec
    * can measure LSH recall against the exact all-pairs baseline
    * directly. */
  val lshDedup = Q.withOracle(
    "x32_embedding_dedup_lsh",
    "x32: LSH-bucketed embedding near-dup pairs >= 0.3 (x14's scale path)",
    s"""WITH bk AS MATERIALIZED (
       |  SELECT vec_id,
       |    $bucketSqlCols
       |  FROM embeddings WHERE vec_id < 500),
       |banded AS MATERIALIZED (
       |  $bandSqlSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id
       |  FROM banded a JOIN banded b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings WHERE vec_id < 500),
       |scoredp AS MATERIALIZED (
       |  SELECT c.keep_id, c.dup_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(a.embedding)),
       |        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
       |      (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
       |  FROM cand c
       |  JOIN v a ON a.vec_id = c.keep_id
       |  JOIN v b ON b.vec_id = c.dup_id)
       |SELECT keep_id, dup_id, cos FROM scoredp
       |WHERE cos >= 0.3 ORDER BY keep_id, dup_id""".stripMargin) { (s, dir) =>
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
    val cand = bucketed(e)
      .groupBy(col("tbl"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a AS keep_id, b AS dup_id))))""".stripMargin)).as("p"))
      .select(col("p.keep_id"), col("p.dup_id"))
      .distinct()
    val v = e.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vd"))
    cand
      .join(v.select(col("vec_id").as("keep_id"), col("vd").as("va")), "keep_id")
      .join(v.select(col("vec_id").as("dup_id"), col("vd").as("vb")), "dup_id")
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= 0.3)
      .select(col("keep_id"), col("dup_id"), col("cos"))
      .orderBy(col("keep_id"), col("dup_id"))
  }

  /** The x32 pipeline unbounded and with a PARAMETERIZED bucket width —
    * the ScaleProbe form. The registered x32 is windowed (vec_id < 500)
    * so its oracle can compare against exact all-pairs x14; probing that
    * window at growing corpus sizes would time constant work. This
    * variant deduplicates the WHOLE corpus and takes `bitsPerTable` as
    * an argument so the prober can raise it with log2(N) — the
    * deployment lever the x6 scaladoc documents (bucket occupancy
    * ~ N/2^b): occupancy, and with it candidates per vector, stays
    * constant, which is what makes the op linear rather than
    * quadratic-within-buckets. Projections are composed Column sums off
    * the same md5 ±1 weight matrix as the native `sign_buckets`
    * expression (the native op is fixed at its 4×4 config;
    * plane count here is dynamic). */
  def lshDedupScaled(e: DataFrame, bitsPerTable: Int,
      numTables: Int = NumTables, threshold: Double = 0.3): DataFrame = {
    val vd = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    def proj(p: Int): Column =
      (0 until Dim).map(d => element_at(col("vd"), d + 1) * lit(weight(p, d)))
        .reduce(_ + _)
    def bucketCol(t: Int): Column =
      (0 until bitsPerTable).map { b =>
        when(proj(t * bitsPerTable + b) >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
    val banded = vd.select(col("vec_id"),
      posexplode(array((0 until numTables).map(bucketCol): _*)).as(Seq("tbl", "bucket")))
    val cand = banded
      .groupBy(col("tbl"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a AS keep_id, b AS dup_id))))""".stripMargin)).as("p"))
      .select(col("p.keep_id"), col("p.dup_id"))
      .distinct()
    cand
      .join(vd.select(col("vec_id").as("keep_id"), col("vd").as("va")), "keep_id")
      .join(vd.select(col("vec_id").as("dup_id"), col("vd").as("vb")), "dup_id")
      .withColumn("cos", cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("keep_id"), col("dup_id"), col("cos"))
  }

  /** x31: symmetric int8 embedding quantization — the storage/compute
    * shrink a 100 TB vector corpus runs before ANN serving (4× smaller
    * than float32, integer SIMD dot products downstream). Per vector:
    * scale = 127 / max|x| (0 for the zero vector), q = clamp(round-half-
    * up(x·scale), ±127). Exploded to scalar rows so the driver hash
    * checks every quantized value; round-half-up is spelled
    * `floor(v + 0.5)` — exact double ops both engines compute
    * identically. Map-only: one pass, no shuffle (the ORDER BY is the
    * driver-contract determinism requirement). */
  val quantizeInt8 = Q.withOracle(
    "x31_quantize_int8",
    "x31: symmetric int8 quantization of embeddings (scale + values)",
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN ma = 0 THEN CAST(0 AS DOUBLE)
       |         ELSE CAST(127 AS DOUBLE) / ma END AS scale
       |  FROM s),
       |ex AS (
       |  SELECT vec_id, scale, embedding,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM sc)
       |SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, scale,
       |  CAST(LEAST(GREATEST(
       |    floor(CAST(embedding[i] AS DOUBLE) * scale + 0.5),
       |    -127), 127) AS INTEGER) AS q
       |FROM ex ORDER BY vec_id, pos""".stripMargin) { (s, dir) =>
    val withScale = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("ma"))
      .withColumn("scale",
        when(col("ma") === 0, lit(0.0)).otherwise(lit(127.0) / col("ma")))
    withScale
      .select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("scale"),
        least(greatest(floor(col("x").cast("double") * col("scale") + lit(0.5)),
          lit(-127.0)), lit(127.0)).cast("int").as("q"))
      .orderBy(col("vec_id"), col("pos"))
  }

  /** Audit-panel size for x160 — FIXED (the x155/x12 rule), so the
    * brute-force pass is K·N distance evals at any corpus size. */
  private val AuditPanel = 64

  /** x160: k-NN label-agreement audit — the classic mislabel screen
    * ("is this example's label consistent with its neighborhood?",
    * the distance-based core of confident-learning / deep-k-NN label
    * QA): for each of [[AuditPanel]] deterministically md5-sampled
    * vectors, find its exact cosine top-[[TopK]] neighbors and report
    * how many share its `label`. A low agree_frac flags a likely
    * labeling error or an off-manifold example — the rows a training
    * pipeline routes to re-annotation before they poison a classifier
    * head. Agreement counts are exact integers; cosine rides the same
    * codegen'd [[graft.functions.CosineSimilarity]] fold every ANN
    * query uses (bit-identical in DuckDB by construction).
    *
    * Scale shape: the panel broadcasts (64 rows), the corpus STREAMS
    * through the distance evaluation map-side — no shuffle of vectors;
    * per-query state is a 5-row heap (TopKPerKey regime via the
    * partitioned rank). At real scale the exact pass swaps for x12's
    * IVF routing with identical downstream agreement logic. */
  val knnLabelAgreement = Q.withOracle(
    "x160_knn_label_agreement",
    s"x160: top-$TopK neighbor label agreement for a $AuditPanel-vector md5 panel",
    s"""WITH v AS (
       |  SELECT vec_id, embedding, label FROM embeddings),
       |panel AS (
       |  SELECT vec_id FROM v
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $AuditPanel),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, q.label AS label,
       |    n.vec_id AS neighbor_id, n.label AS n_label,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(q.embedding)),
       |        i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE))),
       |      (a, x) -> a + x)
       |    / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |        (a, x) -> a + x))
       |     * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |        (a, x) -> a + x))) AS cos
       |  FROM v q JOIN v n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id IN (SELECT vec_id FROM panel)),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, CAST(label AS BIGINT) AS label,
       |  CAST(SUM(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(SUM(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $TopK AS agree_frac
       |FROM ranked WHERE rank <= $TopK
       |GROUP BY query_id, label ORDER BY query_id""".stripMargin) { (s, dir) =>
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vd"),
        col("label"))
    val q = v
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(AuditPanel)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"),
        col("label").as("qlabel"))
    val n = v.select(col("vec_id").as("neighbor_id"), col("vd").as("nv"),
      col("label").as("n_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    n.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .groupBy(col("query_id"), col("qlabel"))
      .agg(sum(when(col("n_label") === col("qlabel"), 1L).otherwise(0L))
        .cast("long").as("n_agree"))
      .select(col("query_id"), col("qlabel").cast("long").as("label"),
        col("n_agree"),
        (col("n_agree").cast("double") / TopK).as("agree_frac"))
      .orderBy(col("query_id"))
  }

  val all: Seq[Q] = Seq(bruteForceKnn, annLsh, cosineDedup, quantizeInt8, lshDedup,
    knnLabelAgreement)
}
