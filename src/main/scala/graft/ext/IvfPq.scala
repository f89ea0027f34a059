package graft.ext

import graft.{Materialize, Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ — the composition of x12's coarse quantizer and x50's product
  * quantization, which is the structure real billion-vector indexes
  * actually ship (FAISS `IVFx,PQy`): the coarse cells make the scan
  * touch only the vectors in a query's [[NProbe]] nearest cells; the PQ
  * codes make each touched vector cost M integer adds instead of a
  * Dim-float read. Both levels share the unit-normalized fixed-point
  * basis, so the whole index — coarse Lloyd, per-subspace Lloyd,
  * encoding, probe selection, ADC over the probed population, exact
  * refine — replays bit-for-bit in the DuckDB oracle.
  *
  * This variant encodes the RAW (normalized) vector, not the residual
  * against its coarse centroid: residual encoding sharpens ADC at the
  * cost of per-cell LUTs (NProbe × M × Codes per query instead of
  * M × Codes); with the exact-refine stage the shortlist only has to
  * be approximately right, and the refine anchors correctness either
  * way (PqSpec/IvfPqSpec pin recall; probing every cell reproduces x50
  * EXACTLY, the composition's no-loss anchor).
  *
  * Scale shape: candidate generation is the (query, cell) probe join —
  * never vector × vector; ADC touches ~ NProbe/K of the code table;
  * everything downstream is x50's bounded shortlist + ReRank-row
  * refine. At 100 TB both K and NProbe grow (constant cell occupancy,
  * the SemDeDup growth rule) and probe selection rides the bounded
  * [[Ivf.BoundedMinN]] aggregation / [[Ivf.hierTopNCells]] hierarchy.
  */
object IvfPq {

  /** Probed coarse cells per query ([[Ivf.NProbe]] = x12's knob). */
  val NProbe: Int = Ivf.NProbe

  /** The pipeline, parameterized on nProbe for the spec's exhaustiveness
    * anchor (nProbe = [[Ivf.K]] probes every cell → must equal x50). */
  private[graft] def ivfPqTopK(e: DataFrame, nProbe: Int = NProbe): DataFrame = {
    val vqn = Materialize(Ivf.quantized(Pq.normalized(e)))
    // level 1: coarse cells (x12's quantizer on the normalized basis,
    // literal-centroid tier — K=10 is driver-bounded metadata)
    val cs = Ivf.refinedCentsCollected(vqn, Ivf.LloydIters)
    val cells = Ivf.assignCellsLit(vqn, cs).select(col("vec_id"), col("cell"))
    val probes = Ivf.topNCellsLit(vqn.filter(col("vec_id") < Pq.NumQueries), cs, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val cand = probes
      .join(cells.withColumnRenamed("vec_id", "neighbor_id"), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    // level 2: PQ codes (x50's literal codebooks on the same basis) —
    // ADC over the probed population is the candidate join plus a
    // literal-LUT lookup per (row, subspace); no codebook join at all.
    val subv = Materialize(Pq.subvectors(vqn))
    val books = Pq.trainBooks(vqn, subv)
    val ql = Pq.buildLut(subv, books)
    val codes = Pq.assignLit(subv, books)
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
    val adc = cand
      .join(codes, "neighbor_id")
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(Pq.lutD(ql)).as("adc"))
    val shortlist = graft.plans.TopKPerKey.topKPerKey(
      adc, Seq("query_id"), Seq(("adc", true), ("neighbor_id", true)), k = Pq.ReRank)
    Pq.refine(e, shortlist)
  }

  // ---- DuckDB oracle: coarse level with k-prefixed CTE names ----------

  private def sqdFull(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, ${Ivf.Dim}), i -> ($a[i]-$b[i])*($a[i]-$b[i]))),
       |      (acc, x) -> acc + x)""".stripMargin

  private def kAssignSql(name: String, cents: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT v.vec_id,
       |    CAST(min(${sqdFull("v.q", "c.q")} * ${1 << 4} + c.cell) % ${1 << 4} AS INT) AS cell
       |  FROM vq v CROSS JOIN $cents c GROUP BY v.vec_id)""".stripMargin

  private def kRecenterSql(name: String, asg: String): String =
    s"""${name}_sums AS MATERIALIZED (
       |  SELECT a.cell, t.i, SUM(v.q[t.i]) AS s, COUNT(*) AS cnt
       |  FROM $asg a JOIN vq v USING (vec_id)
       |  CROSS JOIN generate_series(1, ${Ivf.Dim}) t(i)
       |  GROUP BY a.cell, t.i),
       |$name AS MATERIALIZED (
       |  SELECT cell, list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY i) AS q
       |  FROM ${name}_sums GROUP BY cell)""".stripMargin

  private def ivfPqOracle: String = {
    val steps = (0 until Ivf.LloydIters).map { i =>
      val cents = if (i == 0) "kseeds" else s"kc$i"
      s"${kAssignSql(s"ka$i", cents)},\n${kRecenterSql(s"kc${i + 1}", s"ka$i")}"
    }
    val finalCents = if (Ivf.LloydIters == 0) "kseeds" else s"kc${Ivf.LloydIters}"
    s"""WITH ${Pq.pqChainCtes},
       |kseeds AS MATERIALIZED (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cell, q
       |  FROM vq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${Ivf.K}),
       |${steps.map(_ + ",\n").mkString}${kAssignSql("kcells", finalCents)},
       |kprobes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqdFull("v.q", "c.q")}, c.cell) AS r
       |    FROM vq v CROSS JOIN $finalCents c WHERE v.vec_id < ${Pq.NumQueries})
       |  WHERE r <= $NProbe),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
       |  FROM kcells n JOIN kprobes p USING (cell)
       |  WHERE n.vec_id <> p.query_id),
       |adc AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc
       |  FROM cand c
       |  JOIN codes n ON n.vec_id = c.neighbor_id
       |  JOIN lut l ON l.query_id = c.query_id AND l.sub = n.sub AND l.code = n.code
       |  GROUP BY 1, 2),
       |${Pq.refineTailSql}""".stripMargin
  }

  /** x51: IVF-PQ ANN — coarse-cell routing over PQ codes, ADC on the
    * probed population only, exact refine. Full DuckDB oracle (both
    * quantizer levels + encoding + probe + ADC + refine replayed). */
  val ivfPqAnn = Q.withOracle(
    "x51_ivfpq_ann_topk",
    s"IVF(${Ivf.K} cells, nprobe=$NProbe)-PQ(${Pq.M}×${Pq.Codes}) ADC + exact refine top-${Pq.TopK}",
    ivfPqOracle)((s, dir) => ivfPqTopK(Tables.embeddings(s, dir)))

  val all: Seq[Q] = Seq(ivfPqAnn)
}
