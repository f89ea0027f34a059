package graft.ext

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) ANN — the at-scale companion to x12's IVF
  * and x31's int8 quantization: compress each [[Dim]]-dim vector to
  * [[M]] small codes (one per subspace) against per-subspace codebooks,
  * then answer top-k by ASYMMETRIC distance — the query stays exact,
  * each neighbor contributes only its codes, and the per-query lookup
  * table turns the scan into an integer add per (neighbor, subspace).
  * This is the memory posture real billion-vector indexes ride (PQ /
  * IVF-PQ à la FAISS: codes are M bytes per vector instead of 4·Dim;
  * reference scope: the engine's ANN family, SURVEY.md §2 extensions).
  *
  * Spark shape, designed for the 100 TB read:
  *  - a PQ codebook is an ARCHITECTURAL CONSTANT, not corpus state:
  *    M × Codes entries (FAISS ships 8–64 subspaces × ≤256 codes)
  *    regardless of N — unlike the coarse IVF level, whose K grows
  *    with the corpus under constant occupancy and therefore keeps the
  *    broadcast-keyed-join posture ([[Ivf.hierTopNCells]]). So Lloyd
  *    training here rides the Spark-MLlib-KMeans iteration shape: each
  *    pass is ONE map-side assignment against the literal codebook
  *    (argmin over M·Codes entries folded into the projection — no
  *    join, no argmin shuffle) plus one partial-aggregated re-center
  *    whose ≤ M·Codes·SubDim groups collect to the driver for the next
  *    pass's literal. Per-pass distributed work is a single narrow
  *    scan of the subvector table; driver state is O(M·Codes·SubDim).
  *  - the code table (N × [[M]] ints) is the only per-vector state the
  *    query path touches; the per-query LUT (NumQueries × M × Codes
  *    integer distances) is computed driver-side from the same bounded
  *    codebook and folded into the ADC projection as a literal, so the
  *    ADC scan is one map + one keyed sum — linear in N, no shuffle of
  *    raw vectors, no join at all until the ReRank-row refine.
  *  - everything is fixed-point integer arithmetic end-to-end (the
  *    [[Ivf.Scale]] grid), so ADC distances are exact BIGINTs and the
  *    DuckDB oracle replays training, encoding, and ranking bit-for-bit.
  */
object Pq {

  /** Subspaces (Dim/M dims each). */
  val M = 8
  val SubDim: Int = Ivf.Dim / M
  /** Codes per subspace codebook (fits CodeBits). */
  val Codes = 16
  private val CodeBits = 4
  private[graft] val NumQueries = 5
  private[graft] val TopK = 10
  /** ADC shortlist size before the exact re-rank — PQ's recall knob
    * (FAISS's refine/`k_factor`): the coarse integer distance only has
    * to land the true neighbors in its top-[[ReRank]]; the exact cosine
    * pass then orders them. Per query the refine touches ReRank rows,
    * not N. */
  val ReRank = 50

  private[graft] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** (vec_id, sub, sq): each quantized vector split into M subvectors. */
  private[graft] def subvectors(vq: DataFrame): DataFrame =
    vq.select(col("vec_id"),
      explode(sequence(lit(0), lit(M - 1))).as("sub"), col("q"))
      .select(col("vec_id"), col("sub"),
        slice(col("q"), col("sub") * SubDim + 1, lit(SubDim)).as("sq"))

  /** Collected codebooks: per subspace, parallel (code ids, centroid
    * subvectors) sorted by code. Bounded at M × Codes entries by
    * construction — the driver/broadcast state of the whole index. */
  private[graft] type Books = IndexedSeq[(IndexedSeq[Int], IndexedSeq[IndexedSeq[Long]])]

  private[graft] def collectBooks(cents: DataFrame): Books = {
    val rows = cents.select(col("sub"), col("code"), col("cq")).collect()
    val bySub = rows.groupBy(_.getInt(0))
    (0 until M).map { s =>
      val entries = bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
        .map(r => (r.getInt(1), r.getSeq[Long](2).toIndexedSeq)).sortBy(_._1)
      (entries.map(_._1).toIndexedSeq, entries.map(_._2).toIndexedSeq)
    }
  }

  /** Books → the (sub, code, cq) frame shape persisted by
    * [[graft.streaming.PqIndexFeed]] and replayed by the oracle. */
  private[graft] def booksDf(spark: SparkSession, books: Books): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case ((codes, cents), s) =>
      codes.zip(cents).map { case (c, cq) => (s, c, cq.toSeq) }
    }.toDF("sub", "code", "cq")
  }

  /** Per-subspace seed codebook, collected: the subvectors of the
    * [[Codes]] lowest-md5 vectors (x12's seed rule, applied once and
    * shared by every subspace — seed i gets code i). */
  private def seedBooks(vq: DataFrame): Books = {
    val rows = vq.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(Codes)
      .select(col("q")).collect()
    val qs = rows.toIndexedSeq.map(_.getSeq[Long](0).toIndexedSeq)
    (0 until M).map { s =>
      (qs.indices.map(identity),
        qs.map(q => q.slice(s * SubDim, (s + 1) * SubDim)))
    }
  }

  /** Nearest-code assignment per (vector, subspace) as a PURE MAP: the
    * packed-long argmin (dist << CodeBits | code — ties → lower code,
    * the oracle's rule) runs over the literal codebook inside the
    * projection, so assignment adds no join and no shuffle. Keeps every
    * input column; adds `code`. */
  private[graft] def assignLit(subv: DataFrame, books: Books): DataFrame = {
    val centsL = typedLit(books.map(_._2.map(_.toSeq).toSeq).toSeq)
    val codesL = typedLit(books.map(_._1.toSeq).toSeq)
    val subCents = element_at(centsL, col("sub") + 1)
    val subCodes = element_at(codesL, col("sub") + 1)
    val packed = transform(subCents, (cq, i) =>
      shiftleft(sqDist(col("sq"), cq), CodeBits)
        .bitwiseOR(element_at(subCodes, i + 1).cast("long")))
    subv.withColumn("code",
      array_min(packed).bitwiseAND(lit((1L << CodeBits) - 1)).cast("int"))
  }

  /** Floor-mean re-center per (sub, code) from an [[assignLit]] output
    * (which still carries `sq` — no join back to the subvector table):
    * posexplode + per-position floor(sum/count) + ordered re-assembly.
    * Partial aggregation bounds the shuffle at M·Codes·SubDim groups. */
  private def recenter(assigned: DataFrame): DataFrame =
    assigned.select(col("sub"), col("code"), posexplode(col("sq")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(floor(sum(col("col")).cast("double") / count(lit(1))).cast("long").as("m"))
      .groupBy(col("sub"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cq"))

  /** Codebooks after `iters` Lloyd passes — the MLlib-KMeans iteration
    * shape: one distributed narrow pass + one bounded collect per
    * iteration. `subv` should be checkpointed by the caller when it
    * feeds later stages too. */
  private[graft] def trainBooks(vq: DataFrame, subv: DataFrame,
      iters: Int = Ivf.LloydIters): Books =
    (1 to iters).foldLeft(seedBooks(vq)) { (b, _) =>
      collectBooks(recenter(assignLit(subv, b)))
    }

  /** Codebooks as a frame, for persistence ([[graft.streaming.PqIndexFeed]]). */
  private[graft] def codebooks(vq: DataFrame, iters: Int = Ivf.LloydIters): DataFrame = {
    val subv = Materialize(subvectors(vq)) // feeds every pass
    booksDf(vq.sparkSession, trainBooks(vq, subv, iters))
  }

  /** Unit-normalize then fixed-point quantize: PQ ranks by L2-ADC, and
    * on unit vectors L2² = 2 − 2·cos is MONOTONE in cosine — the
    * standard trick that makes an L2 code index answer cosine queries
    * (without it, varying norms let short vectors crowd every top-k;
    * measured recall 0.2 → 0.6 on the testdata embeddings). Plain IEEE
    * double arithmetic, left-to-right folds — replayed exactly by the
    * oracle like every cosine in the family. */
  private[graft] def normalized(e: DataFrame): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    val nrm = sqrt(aggregate(d, lit(0.0d), (a, x) => a + x * x))
    e.select(col("vec_id"), transform(d, x => x / nrm).as("embedding"))
  }

  /** Encode an embeddings frame against FROZEN codebooks — the
    * ingestion-path entry point ([[graft.streaming.PqIndexFeed]]): the
    * bounded codebook frame collects once per batch and assignment is
    * a pure map — no training, no corpus read, no join. */
  private[graft] def encode(e: DataFrame, cents: DataFrame): DataFrame =
    assignLit(subvectors(Ivf.quantized(normalized(e))), collectBooks(cents))
      .select(col("vec_id"), col("sub"), col("code"))

  /** Per-query ADC lookup tables, computed driver-side from the bounded
    * codebook: `lut(qi)(sub)` is a dense array indexed by code value
    * (1-based via element_at) of exact integer distances — positions of
    * dropped codes are never referenced because [[assignLit]] only
    * emits surviving codes. `qids` orders the query ids. */
  private[graft] case class QueryLut(qids: IndexedSeq[Long], lut: Seq[Seq[Seq[Long]]])

  private[graft] def buildLut(subv: DataFrame, books: Books): QueryLut = {
    val rows = subv.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").cast("long"), col("sub"), col("sq")).collect()
    val qids = rows.map(_.getLong(0)).distinct.sorted.toIndexedSeq
    def sqd(a: Seq[Long], b: Seq[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => (x - y) * (x - y) }.sum
    val bySubQ = rows.map(r => ((r.getLong(0), r.getInt(1)), r.getSeq[Long](2))).toMap
    val lut = qids.map { q =>
      (0 until M).map { s =>
        val sq = bySubQ((q, s))
        val (codes, cents) = books(s)
        val dense = Array.fill(Codes)(0L)
        codes.indices.foreach(i => dense(codes(i)) = sqd(sq, cents(i)))
        dense.toSeq
      }
    }
    QueryLut(qids, lut)
  }

  /** The exact integer ADC distance for (`query_id`, `sub`, `code`)
    * columns, as a literal-LUT lookup — shared by x50's scan and
    * [[IvfPq]]'s probed scan. */
  private[graft] def lutD(ql: QueryLut): Column = {
    val qIdx = element_at(
      typedLit(ql.qids.zipWithIndex.map { case (q, i) => (q, i + 1) }.toMap),
      col("query_id"))
    element_at(element_at(element_at(typedLit(ql.lut), qIdx),
      col("sub") + 1), col("code") + 1)
  }

  /** Exact cosine re-rank of a (query_id, neighbor_id) shortlist against
    * the raw embeddings — cosine is norm-invariant, so the refine reads
    * the ORIGINAL vectors like x5/x12. Shared by x50 and [[IvfPq]]. */
  private[graft] def refine(e: DataFrame, shortlist: DataFrame): DataFrame = {
    val vd = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(vd.select(col("vec_id").as("neighbor_id"), col("vd").as("nv")), "neighbor_id")
      .join(broadcast(vd.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("vd").as("qv"))), "query_id")
      .withColumn("cos", graft.functions.CosineSimilarity.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The full PQ pipeline over an embeddings frame — exposed for the
    * spec's determinism / recall probes. Train (literal-codebook
    * Lloyd) → encode (pure map) → ADC scan (map + one keyed sum; the
    * per-(row, query) distance is a literal-LUT lookup) → bounded-heap
    * [[graft.plans.TopKPerKey]] shortlist (O(ReRank) state per query at
    * any N — the same custom plan t6 rides) → exact cosine re-rank of
    * the shortlist only. */
  private[graft] def pqTopK(e: DataFrame, reRank: Int = ReRank): DataFrame = {
    val vq = Ivf.quantized(normalized(e))
    val subv = Materialize(subvectors(vq)) // read by train + encode + LUT
    val books = trainBooks(vq, subv)
    val ql = buildLut(subv, books)
    val codes = assignLit(subv, books)
    val adc = codes
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("code"),
        explode(typedLit(ql.qids.toSeq)).as("query_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(lutD(ql)).as("adc"))
    val shortlist = graft.plans.TopKPerKey.topKPerKey(
      adc, Seq("query_id"), Seq(("adc", true), ("neighbor_id", true)), k = reRank)
    refine(e, shortlist)
  }

  // ---- DuckDB oracle: the same integer pipeline in SQL ----------------

  private def sqd(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, $SubDim), i -> ($a[i]-$b[i])*($a[i]-$b[i]))),
       |      (acc, x) -> acc + x)""".stripMargin

  private def assignSql(name: String, cents: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT v.vec_id, v.sub,
       |    CAST(min(${sqd("v.sq", "c.cq")} * $Codes + c.code) % $Codes AS INT) AS code
       |  FROM subv v JOIN $cents c ON v.sub = c.sub GROUP BY v.vec_id, v.sub)""".stripMargin

  private def recenterSql(name: String, asg: String): String =
    s"""${name}_sums AS MATERIALIZED (
       |  SELECT a.sub, a.code, t.i, SUM(v.sq[t.i]) AS s, COUNT(*) AS cnt
       |  FROM $asg a JOIN subv v ON a.vec_id = v.vec_id AND a.sub = v.sub
       |  CROSS JOIN generate_series(1, $SubDim) t(i)
       |  GROUP BY a.sub, a.code, t.i),
       |$name AS MATERIALIZED (
       |  SELECT sub, code, list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY i) AS cq
       |  FROM ${name}_sums GROUP BY sub, code)""".stripMargin

  /** CTE prefix replaying normalize → fixed-point quantize → subspace
    * split → per-subspace Lloyd → encode. Ends with table `codes`
    * (vec_id, sub, code); also defines `en`/`vq`/`subv`. Shared with
    * the IVF-PQ composition ([[IvfPq]]). */
  private[graft] def pqChainCtes: String = {
    val steps = (0 until Ivf.LloydIters).map { i =>
      val cents = if (i == 0) "seeds" else s"c$i"
      s"${assignSql(s"a$i", cents)},\n${recenterSql(s"c${i + 1}", s"a$i")}"
    }
    val finalCents = if (Ivf.LloydIters == 0) "seeds" else s"c${Ivf.LloydIters}"
    s"""en AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE) /
       |      sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |        (a, x) -> a + x))) AS ne
       |  FROM embeddings),
       |vq AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(ne,
       |      x -> CAST(floor(x * ${Ivf.Scale}) AS BIGINT)) AS q
       |  FROM en),
       |subv AS MATERIALIZED (
       |  SELECT vec_id, t.s AS sub,
       |    list_slice(q, t.s * $SubDim + 1, t.s * $SubDim + $SubDim) AS sq
       |  FROM vq CROSS JOIN generate_series(0, ${M - 1}) t(s)),
       |seedv AS MATERIALIZED (
       |  SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS code
       |  FROM vq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $Codes),
       |seeds AS MATERIALIZED (
       |  SELECT v.sub, s.code, v.sq AS cq FROM seedv s JOIN subv v USING (vec_id)),
       |${steps.map(_ + ",\n").mkString}${assignSql("codes", finalCents)},
       |lut AS MATERIALIZED (
       |  SELECT v.vec_id AS query_id, c.sub, c.code, ${sqd("v.sq", "c.cq")} AS d
       |  FROM subv v JOIN $finalCents c ON v.sub = c.sub
       |  WHERE v.vec_id < $NumQueries)""".stripMargin
  }

  /** CTE tail: ADC shortlist of `adc` → exact cosine refine → final
    * ranked select ([[pqOracle]] and [[IvfPq]]'s share it; the two
    * differ only in how `adc` restricts its candidates). */
  private[graft] def refineTailSql: String =
    s"""shortlist AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc, neighbor_id) AS r
       |    FROM adc)
       |  WHERE r <= $ReRank),
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
       |  FROM shortlist c
       |  JOIN v q ON q.vec_id = c.query_id
       |  JOIN v n ON n.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, cos FROM ranked
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  private def pqOracle: String =
    s"""WITH $pqChainCtes,
       |adc AS MATERIALIZED (
       |  SELECT l.query_id, n.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc
       |  FROM codes n JOIN lut l ON n.sub = l.sub AND n.code = l.code
       |  WHERE n.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |$refineTailSql""".stripMargin

  /** x50: PQ ANN — per-subspace integer codebooks (md5 seeds +
    * [[Ivf.LloydIters]] Lloyd passes), M-code encoding, ADC
    * top-[[ReRank]] shortlist, exact cosine re-rank to top-[[TopK]]
    * for the first [[NumQueries]] vectors. Full DuckDB oracle
    * (training + encoding + shortlist + refine replayed exactly). */
  val pqAnn = Q.withOracle(
    "x50_pq_ann_topk",
    s"PQ($M×$Codes codes, ADC shortlist $ReRank, exact refine) approximate top-$TopK",
    pqOracle)((s, dir) => pqTopK(Tables.embeddings(s, dir)))

  val all: Seq[Q] = Seq(pqAnn)
}
