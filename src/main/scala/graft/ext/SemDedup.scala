package graft.ext

import graft.{Materialize, Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.functions._

/** Semantic deduplication (SemDeDup, Abbas et al. 2023,
  * arXiv:2303.09540): cluster embeddings with k-means, compare only
  * within shared clusters, prune every vector that has a sufficiently-
  * cosine-similar cluster-mate with a lower id. The clustering is what
  * makes semantic dedup tractable — candidate pairs are bounded per
  * cell, so the quadratic never touches the full corpus.
  *
  * Reuses x12's deterministic quantizer verbatim ([[Ivf.refinedCentroids]]
  * over fixed-point vectors, md5-rank seeds, integer Lloyd passes), so the
  * whole pipeline — clustering included — replays in DuckDB and gets a
  * hard hash oracle, not a trust-the-spec row. Threshold 0.3 is the
  * corpus's near-dup convention (x14/x32; the synthetic embeddings top
  * out at cos ≈ 0.51, so the real-world 0.95+ would select nothing).
  *
  * Candidates come from MULTI-PROBE assignment: each vector probes its
  * [[NProbe]] nearest cells and a pair is compared iff the probe sets
  * intersect. Published SemDeDup compares within the single home cell,
  * which is sound only when τ is far above the cell diameter; at this
  * corpus's τ=0.3 the single-cell form catches just 0.49 of the exact
  * near-dup relation (measured, SemDedupSpec) while 2 probes reach
  * 0.85–0.96 at ~2.6× fewer comparisons than all-pairs on K=10 cells.
  *
  * GROWTH RULE (round 8 — fixes the round-7 N^1.5 defect): the corpus-
  * scale posture is CONSTANT TARGET OCCUPANCY — K = ⌈N/c⌉ cells with c
  * fixed (the published SemDeDup posture: cluster count scales with the
  * corpus). Per-cell candidate pairs are then ~ NProbe²·c²/2 per cell ×
  * N/c cells = NProbe²·c·N/2 — LINEAR in N (SemDedupSpec pins the
  * linearity across probe factors; SCALING.md measures the wall curve).
  * The round-7 rule K = ⌈√N⌉ let occupancy grow as √N, so candidates
  * grew ~N^1.5 — measured 4.1× wall at 10× vectors, the worst curve on
  * the board. What constant occupancy costs instead: the centroid
  * table grows as N/c (broadcast of K×dim longs — fine to K ~ 10⁵–10⁶),
  * and FLAT training/probing is N·K = N²/c distance evals — which the
  * first round-8 probe measured as the new curve (4.9× at 10× with
  * linear candidates). So above [[HierThreshold]] the pipeline rides
  * the two-level coarse quantizer ([[Ivf.hierTopNCells]]): every
  * training and probing stage is O(N·√K) evals, the FAISS-coarse-level
  * posture, and the only approximation is that a nearest cell in an
  * unprobed super-cell is missed (dup-recall vs flat pinned in
  * SemDedupSpec).
  *
  * Scale shape (100 TB): quantize + probe are map-ish passes against a
  * broadcast centroid table; the top-NProbe pick is a BOUNDED typed
  * aggregation ([[Ivf.BoundedMinN]] — O(NProbe) state per vector
  * regardless of K, map-side combined; round 8 replaced the
  * collect-all-K-structs form, whose per-row state grew with K); the
  * pair expansion self-joins the tiny (vec_id, r, cell) probe table —
  * checkpointed once — and shuffles vectors on the cell key only. The
  * survivor rule (exists a closer-than-τ mate with a lower id) needs no
  * transitive closure — one aggregation over verified candidates. */
object SemDedup {

  /** Near-dup cosine threshold — x14/x32's corpus convention. */
  val Tau = 0.3

  /** Probed cells per vector — the recall/cost knob, same role as
    * x12's NProbe (measured curve in SemDedupSpec). */
  val NProbe = 2

  private def semdedupOracle: String = {
    val (ctes, finalCents) = Ivf.quantizerOracleCtes
    s"""WITH $ctes,
       |probes AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${Ivf.sqDistSql("v.q", "c.q")}, c.cell) AS r
       |    FROM vq v CROSS JOIN $finalCents c)
       |  WHERE r <= $NProbe),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM probes a JOIN probes b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |v AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT c.va, c.vb,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(generate_series(1, len(x.embedding)),
       |        i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))),
       |      (acc, z) -> acc + z) / (x.nrm * y.nrm) AS cos
       |  FROM cand c
       |  JOIN v x ON x.vec_id = c.va
       |  JOIN v y ON y.vec_id = c.vb),
       |close AS MATERIALIZED (
       |  SELECT vb AS vec_id, COUNT(*) AS n, MAX(cos) AS mc
       |  FROM pairs WHERE cos >= $Tau GROUP BY 1)
       |SELECT c.vec_id, c.cell, CAST(COALESCE(cl.n, 0) AS BIGINT) AS n_dup_lower,
       |  cl.vec_id IS NULL AS kept, cl.mc AS max_cos
       |FROM cells c LEFT JOIN close cl USING (vec_id)
       |ORDER BY c.vec_id""".stripMargin
  }

  /** Cell count for a corpus of `n` vectors under constant target
    * occupancy `c` (never below the oracle-pinned [[Ivf.K]]) — THE
    * growth rule (see object doc). `c` defaults to the registered
    * configuration's own occupancy (2,000 vectors / 10 cells). */
  val TargetOccupancy = 200
  def cellsFor(n: Long, c: Int = TargetOccupancy): Int =
    math.max(Ivf.K, ((n + c - 1) / c).toInt)

  /** Smallest cellBits that holds k cell ids (≥ the oracle-pinned
    * default; [[Ivf.requireCellBits]] bounds it at 14). */
  def cellBitsFor(k: Int): Int =
    math.max(Ivf.CellBits, 64 - java.lang.Long.numberOfLeadingZeros(math.max(k - 1, 1).toLong))

  /** The (vec_id, r, cell) multi-probe table: quantize, cluster, pick
    * each vector's top-nProbe cells via the BOUNDED aggregation
    * ([[Ivf.topNCells]] — O(nProbe) state per vector regardless of k).
    * Checkpointed: it is tiny (N × nProbe rows of three ints) and feeds
    * both join sides of the pair expansion. */
  private[graft] def probeTable(e: org.apache.spark.sql.DataFrame,
      k: Int, cellBits: Int, nProbe: Int): org.apache.spark.sql.DataFrame = {
    val vq = Ivf.quantized(e)
    val cents = Materialize(Ivf.refinedCentroids(vq, Ivf.LloydIters, k, cellBits))
    Materialize(Ivf.topNCells(vq, cents, nProbe, cellBits))
  }

  /** Candidate pairs of a probe table: co-probed ids, each unordered
    * pair once. Exposed for SemDedupSpec's candidate-count linearity
    * pin (the growth rule's testable claim). */
  private[graft] def candidatePairs(probed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    probed.as("a")
      .join(probed.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      .distinct()

  /** The full prune pipeline over an arbitrary embedding frame,
    * parameterized on the quantizer size: the registered query binds the
    * oracle-pinned constants; the scale probe passes the constant-
    * occupancy [[cellsFor]] (with [[cellBitsFor]] sizing the pack). */
  /** Above this K the pipeline switches from the flat quantizer (the
    * oracle-replayed path the registered K=10 query and x12 ride) to
    * the two-level hierarchy ([[Ivf.hierTopNCells]]): flat training +
    * probing is N·K evals — quadratic once K ~ N/c — while below the
    * threshold the hierarchy's extra passes cost more than they save. */
  val HierThreshold = 32

  private[graft] def pipeline(e: org.apache.spark.sql.DataFrame,
      k: Int = Ivf.K, cellBits: Int = Ivf.CellBits,
      nProbe: Int = NProbe): org.apache.spark.sql.DataFrame = {
    val probed =
      if (k <= HierThreshold) probeTable(e, k, cellBits, nProbe)
      else Materialize(Ivf.hierTopNCells(Ivf.quantized(e), k, nProbe))
    pipelineFrom(e, probed)
  }

  /** The prune stages downstream of probe selection — shared by both
    * quantizer paths (and called directly by SemDedupSpec to compare
    * them at equal K). */
  private[graft] def pipelineFrom(e: org.apache.spark.sql.DataFrame,
      probed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Home cell = the first probe — identical to x12's packed argmin
    // (min dist, ties to the lower cell).
    val cells = probed.filter(col("r") === 1).select(col("vec_id"), col("cell"))
    val cand = candidatePairs(probed)
    val vd = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    val close = cand
      .join(vd.select(col("vec_id").as("va"), col("vd").as("x")), "va")
      .join(vd.select(col("vec_id").as("vb"), col("vd").as("y")), "vb")
      .withColumn("cos", CosineSimilarity.cosineSim(col("x"), col("y")))
      .filter(col("cos") >= Tau)
      .groupBy(col("vb").as("vec_id"))
      .agg(count(lit(1)).as("n"), max(col("cos")).as("mc"))
    cells.join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n"), lit(0L)).as("n_dup_lower"),
        col("n").isNull.as("kept"),
        col("mc").as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** x41: every vector with its home cell, how many lower-id probe-mates
    * sit within τ, and the keep/prune decision. Emits ALL rows (kept and
    * pruned) so the result is non-empty at any scale factor and the
    * pruned fraction is directly readable. */
  val semdedup = Q.withOracle(
    "x41_semdedup",
    "x41: SemDeDup — k-means cells, multi-probe cosine prune, min-id survivor",
    semdedupOracle) { (s, dir) =>
    pipeline(Tables.embeddings(s, dir))
  }

  val all: Seq[Q] = Seq(semdedup)
}
