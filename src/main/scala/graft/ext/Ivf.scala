package graft.ext

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor: a coarse quantizer of K
  * centroids, vectors assigned to their nearest cell, queries probing the
  * top `NProbe` cells, exact cosine within probed cells.
  *
  * The quantizer is DETERMINISTIC END TO END so the whole index build is
  * DuckDB-replayable (a hard oracle, not a trust-the-spec row — the last
  * ANN op to get one). Three ingredients, all exact integer arithmetic:
  *
  *  - vectors are fixed-point quantized: `q[i] = floor(x[i] * 2^20)` —
  *    the float→double cast and the power-of-two multiply are both exact
  *    in IEEE, so every engine lands the same int64s;
  *  - seeds are the quantized vectors of the K lowest-`md5(vec_id)` rows
  *    (the portable md5-rank recipe that oracled x6/x39) — no data-mean
  *    seeding, whose float sums would be partition-order-dependent;
  *  - exactly `LloydIters` re-centering passes: assignment is argmin of
  *    integer squared L2 (standard k-means geometry), and re-centering
  *    is the element-wise floor-mean — int64 sums are associative, so
  *    the result is independent of Spark's partition merge order, and
  *    `floor(sum_as_double / count)` is the same correctly-rounded
  *    division in every engine. Cells that lose all members drop out of
  *    the next pass identically on both sides.
  *
  * Final scoring within probed cells is exact double cosine (the native
  * `cosine_sim` expression), bit-matched by DuckDB's `list_reduce`
  * ordered fold — the pattern proven by x5/x6/x14.
  *
  * Scale shape: centroids are K × dim → broadcast; quantization and
  * assignment are map-only passes (the argmin is a min() over ONE packed
  * long — dist << 4 | cell — so it runs in HashAggregateExec with
  * map-side partials; a struct-ordered min/max_by has an immutable
  * buffer and silently falls back to SortAggregate, the round-5 plan
  * defect); re-centering is one keyed aggregation per pass; the probe
  * join shuffles only (query, cell) pairs — never the vector set against
  * itself. At real scale K grows with the corpus (constant target
  * occupancy — see [[SemDedup]]'s growth-rule doc) and NProbe stays a
  * small fraction of K; probe selection is the bounded [[BoundedMinN]]
  * aggregation, O(NProbe) state per query at any K. */
object Ivf {

  private val NumQueries = 20
  private val TopK = 5
  /** Probed cells per query — THE latency/recall knob of any IVF index. */
  val NProbe = 4
  val LloydIters = 2
  /** Coarse cells. CellBits packs the cell id under the distance in the
    * argmin long, so K must stay ≤ 2^CellBits. */
  val K = 10
  private[graft] val CellBits = 4
  private[graft] val Dim = 64
  /** Fixed-point scale: 2^20 (exact IEEE multiply). */
  private[graft] val Scale = 1048576.0

  /** Integer squared-L2 between two int64 vectors. Bounds at this scale:
    * |x| ≤ 1 → element diff ≤ 2^21, squared 2^42, × 64 dims = 2^48 —
    * exact in int64 with 15 bits to spare for the packed cell id. */
  private[graft] def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Fixed-point quantization of the float embedding column. */
  private[graft] def quantized(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * lit(Scale))).as("q"))

  /** Seed centroids: the quantized vectors of the k lowest-md5 ids. */
  private[graft] def seedCentroids(vq: DataFrame, k: Int = K): DataFrame = {
    val w = Window.orderBy(col("h"), col("vec_id")) // bounded: k rows
    vq.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select((row_number().over(w) - 1).as("cell"), col("q"))
  }

  /** The packed (dist, cell) long: sqDist tops out at 2^48 (see scaladoc
    * above), so any cellBits ≤ 14 leaves the pack overflow-free in
    * int64 — [[requireCellBits]] makes a larger quantizer fail LOUD
    * instead of silently overflowing the shift (round-8 advice). */
  private[graft] def requireCellBits(cellBits: Int): Unit =
    require(cellBits <= 14,
      s"cellBits = $cellBits > 14: dist << cellBits overflows int64 " +
        "(sqDist <= 2^48); shard the quantizer or widen the pack")

  /** Nearest-cell assignment: argmin of integer L2, as min() over one
    * packed long so the plan is a hash aggregate (ties → lower cell).
    * `cellBits` bounds the cell-id field of the packed long (k ≤
    * 2^cellBits). */
  private[graft] def assignCells(v: DataFrame, cents: DataFrame,
      cellBits: Int = CellBits): DataFrame = {
    requireCellBits(cellBits)
    val packed = shiftleft(sqDist(col("q"), col("cq")), cellBits)
      .bitwiseOR(col("cell").cast("long"))
    v.crossJoin(broadcast(cents.select(col("cell"), col("q").as("cq"))))
      .groupBy(col("vec_id"))
      .agg(min(packed).as("m"))
      .select(col("vec_id"),
        col("m").bitwiseAND(lit((1L << cellBits) - 1)).cast("int").as("cell"))
  }

  // ---- Literal-centroid fast path (bounded K) -----------------------
  // The registered queries pin K = 10 for their oracles; at that size —
  // and any K a driver can hold — centroids are bounded metadata, and
  // the MLlib-KMeans iteration shape beats the broadcast-join one: each
  // Lloyd pass is a pure-map argmin against the literal centroid table
  // (no crossJoin, no argmin shuffle) plus the keyed re-center, with the
  // K-row result collected for the next pass. The broadcast-join forms
  // above remain the posture once K grows with the corpus (constant
  // occupancy), and [[hierTopNCells]] once N·K evals themselves bind —
  // the three tiers of the one index family. Proven first on [[Pq]]
  // (whose codebook is an architectural constant, so it ONLY has the
  // literal tier).

  /** Collected centroids: (cell ids, centroid vectors), sorted by cell.
    * Bounded at K rows by construction. */
  private[graft] type Cents = (Seq[Int], Seq[Seq[Long]])

  private[graft] def collectCents(cents: DataFrame): Cents = {
    val rows = cents.select(col("cell"), col("q")).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)
    (rows.map(_._1).toSeq, rows.map(_._2).toSeq)
  }

  /** The per-row array of packed (dist << cellBits | cell) longs against
    * the literal centroid table — same pack, same tie rule as
    * [[assignCells]]/[[topNCells]]. */
  private def packedLit(cs: Cents, cellBits: Int): Column = {
    requireCellBits(cellBits)
    val centsL = typedLit(cs._2)
    val cellsL = typedLit(cs._1)
    transform(centsL, (cq, i) =>
      shiftleft(sqDist(col("q"), cq), cellBits)
        .bitwiseOR(element_at(cellsL, i + 1).cast("long")))
  }

  /** [[assignCells]]' literal form — a pure map (no join, no shuffle).
    * Keeps every input column; adds `cell`. */
  private[graft] def assignCellsLit(v: DataFrame, cs: Cents,
      cellBits: Int = CellBits): DataFrame =
    v.withColumn("cell",
      array_min(packedLit(cs, cellBits))
        .bitwiseAND(lit((1L << cellBits) - 1)).cast("int"))

  /** [[assignCellsLit]] keeping the winning distance: adds `cell` AND
    * `dist` (the exact integer squared L2 to the assigned centroid —
    * the prototypicality measure x189 ranks on), unpacked from the one
    * packed argmin long. Still a pure map. */
  private[graft] def assignCellsDistLit(v: DataFrame, cs: Cents,
      cellBits: Int = CellBits): DataFrame =
    v.withColumn("__pk", array_min(packedLit(cs, cellBits)))
      .withColumn("cell",
        col("__pk").bitwiseAND(lit((1L << cellBits) - 1)).cast("int"))
      .withColumn("dist", shiftright(col("__pk"), cellBits))
      .drop("__pk")

  /** [[topNCells]]' literal form: sort the K packed longs in the
    * projection, slice n — no aggregation at all. Same output contract:
    * (vec_id, r, cell), r = 1..n by (dist, cell). */
  private[graft] def topNCellsLit(v: DataFrame, cs: Cents, n: Int,
      cellBits: Int = CellBits): DataFrame =
    v.select(col("vec_id"),
        posexplode(slice(array_sort(packedLit(cs, cellBits)), 1, n)))
      .select(col("vec_id"), (col("pos") + 1).as("r"),
        col("col").bitwiseAND(lit((1L << cellBits) - 1)).cast("int").as("cell"))

  /** Driver-iterated Lloyd over the literal path — one narrow
    * distributed pass + one K-row collect per iteration. Semantically
    * identical to [[refinedCentroids]] (IvfSpec pins it). */
  private[graft] def refinedCentsCollected(vq: DataFrame, iters: Int = LloydIters,
      k: Int = K, cellBits: Int = CellBits): Cents =
    (1 to iters).foldLeft(collectCents(seedCentroids(vq, k))) { (cs, _) =>
      collectCents(meanByCell(assignCellsLit(vq, cs, cellBits)))
    }

  /** Bounded smallest-n collector over longs — the probe-selection
    * aggregation state (SURVEY.md §2.8 typed-Aggregator extension
    * point). The buffer is a sorted array CAPPED AT n: per-group state
    * is O(n) no matter how many centroids stream through, which is what
    * lets the probe list survive a constant-occupancy quantizer whose K
    * grows with the corpus (a collect_list-of-all-K buffer is O(K) per
    * vector — the round-7 shape this replaces). Insertion is
    * binary-search + arraycopy into a ≤ n array; merges concatenate two
    * ≤ n arrays — both O(n), both partial-aggregable map-side. */
  class BoundedMinN(n: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(n > 0, s"n must be positive, got $n")
    override def zero: Array[Long] = Array.emptyLongArray
    private def insert(b: Array[Long], v: Long): Array[Long] = {
      if (b.length == n && v >= b(n - 1)) return b
      var i = java.util.Arrays.binarySearch(b, v)
      if (i < 0) i = -i - 1
      val len = math.min(b.length + 1, n)
      val out = new Array[Long](len)
      System.arraycopy(b, 0, out, 0, i)
      out(i) = v
      System.arraycopy(b, i, out, i + 1, len - i - 1)
      out
    }
    override def reduce(b: Array[Long], a: Long): Array[Long] = insert(b, a)
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      y.foldLeft(x)(insert)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExprEnc.arrayLong
    override def outputEncoder: Encoder[Array[Long]] = ExprEnc.arrayLong
  }

  /** Top-n nearest cells per vector: (vec_id, r, cell) with r = 1..n
    * ordered by (dist, cell) — the oracle's ROW_NUMBER tie rule, carried
    * by the packed long's natural order. Per-vector aggregation state is
    * n longs regardless of K ([[BoundedMinN]]), so the same plan serves
    * the registered K=10 and a constant-occupancy quantizer at K ≥ 10⁵.
    * Shared by x12's query probing and x41's multi-probe assignment. */
  private[graft] def topNCells(v: DataFrame, cents: DataFrame, n: Int,
      cellBits: Int = CellBits): DataFrame = {
    requireCellBits(cellBits)
    import v.sparkSession.implicits._
    val packed = shiftleft(sqDist(col("q"), col("cq")), cellBits)
      .bitwiseOR(col("cell").cast("long"))
    v.crossJoin(broadcast(cents.select(col("cell"), col("q").as("cq"))))
      .select(col("vec_id").cast("long").as("vec_id"), packed.as("p"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new BoundedMinN(n).toColumn.name("top"))
      .toDF("vec_id", "top")
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).as("r"),
        col("col").bitwiseAND(lit((1L << cellBits) - 1)).cast("int").as("cell"))
  }

  /** Two-level (coarse-to-fine) quantizer + bounded probe selection —
    * the constant-occupancy growth rule's missing half (round 8).
    * Constant occupancy makes CANDIDATE PAIRS linear in N, but a flat
    * quantizer still pays N·K distance evals in Lloyd training and in
    * probe selection — quadratic in N once K ~ N/c, and the first
    * round-8 probe measured the consequence (x41 wall 4.9× at 10× with
    * linear candidates: assignment had become the curve). The published
    * coarse-quantizer posture (FAISS's IVF coarse level / IMI) caps it:
    * cluster the corpus into S = ⌈√K⌉ super-cells, train an independent
    * sub-quantizer of ⌈K/S⌉ cells INSIDE each super-cell (a keyed join
    * on the super — a vector only ever meets its own super's
    * centroids), and probe super-cells first. Every stage — super
    * training, super assignment, sub training, probe selection — is
    * O(N·√K) evals instead of O(N·K). Depth 2 is the composition step:
    * a depth-d hierarchy costs N·d·K^(1/d), the tree-structured limit
    * real ANN indexes ride; deeper levels are this same construction
    * applied to the super table.
    *
    * Output contract is [[topNCells]]'s: (vec_id, r, cell) with
    * r = 1..n ordered by (dist, cell) over the centroids of the
    * vector's `superProbe` nearest super-cells; cell ids are
    * sup·subK + sub — opaque ints to every consumer. Approximate BY
    * DESIGN: a true nearest cell living in an unprobed super is missed
    * (SemDedupSpec pins dup-recall vs the flat quantizer at equal K).
    * Deterministic end-to-end: md5-rank seeds at both levels, packed
    * integer argmins everywhere. */
  private[graft] def hierTopNCells(vq: DataFrame, k: Int, n: Int,
      lloydIters: Int = LloydIters, superProbe: Int = 2): DataFrame = {
    import vq.sparkSession.implicits._
    val s = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val subK = math.max(1, math.ceil(k.toDouble / s).toInt)
    def bitsFor(m: Int): Int =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(math.max(m - 1, 1).toLong))
    val sBits = bitsFor(s)
    val gBits = bitsFor(s * subK) // global id = sup·subK + sub < s·subK
    requireCellBits(sBits); requireCellBits(gBits)
    // Level 1: S super-cells by the shared deterministic Lloyd chain.
    val supers = refinedCentroids(vq, lloydIters, s, sBits).materialized
    val vqs = vq.join(
      assignCells(vq, supers, sBits).withColumnRenamed("cell", "sup"), "vec_id")
      .materialized // feeds every sub-training and probe pass below
    // Level 2: per-super md5-rank seeds (the flat seed rule, windowed by
    // super), then Lloyd where assignment joins each vector to its OWN
    // super's centroids only.
    val w = Window.partitionBy(col("sup")).orderBy(col("h"), col("vec_id"))
    val seeds = vqs.withColumn("h", md5(col("vec_id").cast("string")))
      .withColumn("sub", row_number().over(w) - 1)
      .filter(col("sub") < subK)
      .select((col("sup") * subK + col("sub")).cast("int").as("cell"), col("q"))
    def withSup(cents: DataFrame): DataFrame =
      cents.select(col("cell"), col("q").as("cq"),
        (col("cell") / lit(subK)).cast("int").as("sup"))
    val packed = shiftleft(sqDist(col("q"), col("cq")), gBits)
      .bitwiseOR(col("cell").cast("long"))
    def assignWithin(cents: DataFrame): DataFrame =
      vqs.join(broadcast(withSup(cents)), "sup")
        .groupBy(col("vec_id"))
        .agg(min(packed).as("m"))
        .select(col("vec_id"),
          col("m").bitwiseAND(lit((1L << gBits) - 1)).cast("int").as("cell"))
    val cents = (1 to lloydIters).foldLeft(seeds) { (c, _) =>
      meanByCell(vqs.join(assignWithin(c), "vec_id"))
    }.materialized
    // Probe selection: top-superProbe supers per vector, then the
    // bounded top-n pick over ONLY the probed supers' centroids.
    val probedSup = topNCells(vq, supers, superProbe, sBits)
      .select(col("vec_id"), col("cell").as("sup"))
    probedSup.join(vqs.select(col("vec_id"), col("q")), "vec_id")
      .join(broadcast(withSup(cents)), "sup")
      .select(col("vec_id").cast("long").as("vec_id"), packed.as("p"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new BoundedMinN(n).toColumn.name("top"))
      .toDF("vec_id", "top")
      .select(col("vec_id"), posexplode(col("top")))
      .select(col("vec_id"), (col("pos") + 1).as("r"),
        col("col").bitwiseAND(lit((1L << gBits) - 1)).cast("int").as("cell"))
  }

  /** Element-wise floor-mean of int64 vectors — typed `Aggregator`
    * (SURVEY.md §2.8's custom-aggregation extension point). Integer
    * buffer sums commute, so the output is independent of partition
    * merge order — the property the oracle rests on. */
  class VectorMeanFloor(dim: Int)
      extends Aggregator[Array[Long], (Array[Long], Long), Array[Long]] {
    override def zero: (Array[Long], Long) = (Array.fill(dim)(0L), 0L)
    override def reduce(b: (Array[Long], Long), a: Array[Long]): (Array[Long], Long) = {
      var i = 0; while (i < dim) { b._1(i) += a(i); i += 1 }
      (b._1, b._2 + 1)
    }
    override def merge(x: (Array[Long], Long), y: (Array[Long], Long)): (Array[Long], Long) = {
      var i = 0; while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    override def finish(b: (Array[Long], Long)): Array[Long] =
      if (b._2 == 0) b._1
      else b._1.map(s => math.floor(s.toDouble / b._2).toLong)
    override def bufferEncoder: Encoder[(Array[Long], Long)] =
      Encoders.tuple(ExprEnc.arrayLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Array[Long]] = ExprEnc.arrayLong
  }

  private object ExprEnc {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val arrayLong: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Floor-mean centroid per cell via the Aggregator: input is any
    * (cell: int, q: array<bigint>) frame. */
  def meanByCell(assigned: DataFrame, dim: Int = Dim): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned.select(col("cell"), col("q")).as[(Int, Array[Long])]
      .groupByKey(_._1)
      .mapValues(_._2)(ExprEnc.arrayLong)
      .agg(new VectorMeanFloor(dim).toColumn.name("q"))
      .toDF("cell", "q")
  }

  /** One Lloyd iteration: assign every vector to its nearest centroid,
    * re-center each cell on the floor-mean of its members. Two map-only
    * passes over the vectors and one keyed aggregation — nothing new at
    * 100 TB. IvfSpec pins that on clustered vectors with off-center
    * seeds one iteration strictly reduces quantization cost. */
  def lloydStep(v: DataFrame, cents: DataFrame, cellBits: Int = CellBits): DataFrame =
    meanByCell(v.join(assignCells(v, cents, cellBits), "vec_id"))

  /** Centroids after `iters` Lloyd passes over the md5-rank seeds — the
    * ONE deterministic quantizer, shared by x12 (ANN probing) and x41
    * (SemDeDup cells) so both replay against the same oracle CTEs.
    * `k`/`cellBits` default to the oracle-pinned constants; the scale
    * probe passes the constant-occupancy [[SemDedup.cellsFor]] with
    * cellBits sized to hold it. */
  private[graft] def refinedCentroids(vq: DataFrame, iters: Int = LloydIters,
      k: Int = K, cellBits: Int = CellBits): DataFrame =
    (1 to iters).foldLeft(seedCentroids(vq, k))((c, _) => lloydStep(vq, c, cellBits))

  /** The full IVF top-k for a given number of Lloyd refinement passes —
    * parameterized so IvfSpec can compare the refined quantizer against
    * the raw md5 seed on identical plumbing. */
  private[graft] def ivfTopK(s: SparkSession, dir: String, lloydIters: Int,
      nProbe: Int = NProbe): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val vq = quantized(e)
    val vd = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("vd"))
    // Literal-centroid tier (K = 10, driver-bounded): training is the
    // MLlib iteration shape; assignment and probe selection are pure
    // maps against the collected centroid table.
    val cs = refinedCentsCollected(vq, lloydIters)
    val cells = assignCellsLit(vq, cs).select(col("vec_id"), col("cell"))
    val probes = topNCellsLit(vq.filter(col("vec_id") < NumQueries), cs, nProbe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val qv = vd.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("vd").as("qv"))
    val nv = vd.select(col("vec_id").as("neighbor_id"), col("vd").as("nv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(cells.withColumnRenamed("vec_id", "neighbor_id"), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
      .join(nv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cos", CosineSimilarity.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- DuckDB oracle: the same integer pipeline in SQL ----------------

  private[graft] def sqDistSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, $Dim), i -> ($a[i]-$b[i])*($a[i]-$b[i]))),
       |      (acc, x) -> acc + x)""".stripMargin

  /** One assignment pass: argmin by integer L2 via the same packed long. */
  private def assignSql(name: String, cents: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT v.vec_id,
       |    CAST(min(${sqDistSql("v.q", "c.q")} * ${1 << CellBits} + c.cell) % ${1 << CellBits} AS INT) AS cell
       |  FROM vq v CROSS JOIN $cents c GROUP BY v.vec_id)""".stripMargin

  /** One re-centering pass: element-wise floor-mean per cell. */
  private def recenterSql(name: String, asg: String): String =
    s"""${name}_sums AS MATERIALIZED (
       |  SELECT a.cell, t.i, SUM(v.q[t.i]) AS s, COUNT(*) AS cnt
       |  FROM $asg a JOIN vq v USING (vec_id)
       |  CROSS JOIN generate_series(1, $Dim) t(i)
       |  GROUP BY a.cell, t.i),
       |$name AS MATERIALIZED (
       |  SELECT cell, list(CAST(floor(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY i) AS q
       |  FROM ${name}_sums GROUP BY cell)""".stripMargin

  /** The Lloyd chain generated from [[LloydIters]] — the engine and the
    * oracle share the ONE constant, so bumping it cannot silently
    * desynchronize them (round-6 advice: the chain was hardcoded at two
    * passes). Pass i assigns against `seeds`/`c<i>` and re-centers into
    * `c<i+1>`; the final assignment and the probe list both read the
    * last centroid table. */
  private def lloydChainSql: (String, String) = {
    val steps = (0 until LloydIters).map { i =>
      val cents = if (i == 0) "seeds" else s"c$i"
      s"${assignSql(s"a$i", cents)},\n${recenterSql(s"c${i + 1}", s"a$i")}"
    }
    val finalCents = if (LloydIters == 0) "seeds" else s"c$LloydIters"
    (steps.map(_ + ",\n").mkString, finalCents)
  }

  /** Oracle CTE prefix replaying the whole quantizer — `vq` (fixed-point
    * vectors), `seeds`, the Lloyd chain, and the final `cells`
    * assignment — plus the name of the final centroid table. Shared
    * with x41 SemDeDup, whose oracle clusters on the same `cells`. */
  private[graft] def quantizerOracleCtes: (String, String) = {
    val (chain, finalCents) = lloydChainSql
    val ctes =
      s"""vq AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT)) AS q
         |  FROM embeddings),
         |seeds AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cell, q
         |  FROM vq ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $K),
         |$chain${assignSql("cells", finalCents)}""".stripMargin
    (ctes, finalCents)
  }

  private def ivfOracle: String = {
    val (ctes, finalCents) = quantizerOracleCtes
    s"""WITH $ctes,
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${sqDistSql("v.q", "c.q")}, c.cell) AS r
       |    FROM vq v CROSS JOIN $finalCents c WHERE v.vec_id < $NumQueries)
       |  WHERE r <= $NProbe),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT p.query_id, n.vec_id AS neighbor_id
       |  FROM cells n JOIN probes p USING (cell)
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

  /** x12: IVF ANN — deterministic integer quantizer (md5 seeds + 2 Lloyd
    * passes), queries probe NProbe cells, exact cosine within probed
    * cells. Full DuckDB oracle since round 6. */
  val ivfAnn = Q.withOracle(
    "x12_ivf_ann_topk",
    s"IVF(md5 seed + $LloydIters integer Lloyd iters, nprobe=$NProbe) approximate top-$TopK",
    ivfOracle)(
    (s, dir) => ivfTopK(s, dir, lloydIters = LloydIters))

  val all: Seq[Q] = Seq(ivfAnn)
}
