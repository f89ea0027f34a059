package graft.ext

import graft.{Materialize, Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.functions._

/** x64: k-means training as a FIRST-CLASS operator — the quantizer that
  * x12 (IVF probing) and x41 (SemDeDup cells) consume, exposed as its own
  * registered query so a pipeline can train, inspect, and persist
  * centroids independently of any index build (the MLlib `KMeans.fit`
  * role, built from the engine's own deterministic pieces).
  *
  * Everything reuses [[Ivf]]'s oracle-replayed quantizer verbatim — ONE
  * training definition shared by three queries, so bumping K/iters can
  * never desynchronize them:
  *  - fixed-point quantization `floor(x * 2^20)` (exact IEEE);
  *  - md5-rank seeds (portable, no partition-order-dependent data mean);
  *  - [[Ivf.LloydIters]] assign/re-center passes in exact integer
  *    arithmetic (argmin of int64 squared L2, floor-mean re-centering).
  *
  * Output is the trained model in its storable form: one row per
  * (cell, dimension) with the centroid coordinate plus the cell's final
  * member count — K·dim rows, contractually bounded, a table a 100 TB
  * pipeline writes once and broadcasts everywhere.
  *
  * Scale shape: the registered query rides the literal-centroid tier
  * (driver-held K×dim ints; each Lloyd pass is a pure-map argmin plus one
  * keyed re-center — the MLlib iteration shape). When K grows with the
  * corpus (constant occupancy), the SAME training runs on the
  * broadcast-join tier ([[Ivf.refinedCentroids]]) and the two-level
  * hierarchy ([[Ivf]] round-8 doc) — x64 is the bounded-K tier of that
  * one family, not a fourth code path.
  */
object Kmeans {

  private def kmeansOracle: String = {
    val (ctes, finalCents) = Ivf.quantizerOracleCtes
    s"""WITH $ctes,
       |sizes AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM cells GROUP BY cell)
       |SELECT fc.cell, CAST(t.i - 1 AS INT) AS d, fc.q[t.i] AS c,
       |  COALESCE(sz.n, 0) AS n
       |FROM $finalCents fc
       |CROSS JOIN generate_series(1, ${Ivf.Dim}) t(i)
       |LEFT JOIN sizes sz USING (cell)
       |ORDER BY fc.cell, d""".stripMargin
  }

  /** x64: train the deterministic k-means quantizer (md5 seeds +
    * [[Ivf.LloydIters]] integer Lloyd passes) and emit the model —
    * (cell, d, coordinate, member count), K·dim rows. */
  val train = Q.withOracle(
    "x64_kmeans_train",
    s"x64: k-means training (K=${Ivf.K}, ${Ivf.LloydIters} integer Lloyd passes) " +
      "- centroid model + cell sizes",
    kmeansOracle) { (s, dir) =>
    val vq = Ivf.quantized(Tables.embeddings(s, dir))
      .materialized // read once per Lloyd pass + the final assignment
    val cs = Ivf.refinedCentsCollected(vq)
    val sizes = Ivf.assignCellsLit(vq, cs)
      .groupBy(col("cell")).agg(count(lit(1)).cast("long").as("n"))
    val model = s.createDataFrame(cs._1.zip(cs._2)).toDF("cell", "q")
    model.select(col("cell"), posexplode(col("q")).as(Seq("d", "c")))
      .join(sizes, Seq("cell"), "left")
      .select(col("cell"), col("d"), col("c"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("cell"), col("d"))
  }

  /** Argmax-count pack base (the x70 rule): packed = (2³¹ − cnt)·2³¹ +
    * label realizes "most frequent label, smallest on ties" as ONE
    * integer min() — a hash aggregate with map-side partials, where a
    * struct max_by would fall back to SortAggregate. Holds while
    * per-cell label counts < 2³¹ and 0 ≤ label < 2³¹. */
  private val PurityPack = 1L << 31

  /** x163: cluster purity + Gini impurity — EXTERNAL validation of the
    * x64 quantizer against the embedding table's ground-truth `label`
    * ("do the learned cells recover the annotated classes?"): per
    * nonempty cell, the majority label, its count, purity = top_n/n,
    * and the Gini impurity 1 − Σ(n_l/n)² computed as the exact rational
    * (n² − Σn_l²)/n² — one IEEE division of exact longs (headroom:
    * n < 3·10⁹ members per cell; a constant-occupancy quantizer at
    * 100 TB holds cells far below that by construction). With K = 10
    * cells against 10 ground-truth labels this is the textbook
    * confusion audit of the clustering x12/x41 route through.
    *
    * Scale shape: the training cost IS x64 (shared quantizer, one
    * definition); the audit adds one map-side assignment pass, one
    * (cell, label) hash agg, and a K-row rollup. */
  val clusterPurity = Q.withOracle(
    "x163_cluster_purity",
    s"x163: per-cell majority-label purity + Gini impurity of the x64 quantizer (K=${Ivf.K})",
    {
      val (ctes, _) = Ivf.quantizerOracleCtes
      s"""WITH $ctes,
         |cl AS (
         |  SELECT cells.cell, e.label, CAST(COUNT(*) AS BIGINT) AS nl
         |  FROM cells JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |ag AS (
         |  SELECT cell, CAST(SUM(nl) AS BIGINT) AS n,
         |    CAST(SUM(nl * nl) AS BIGINT) AS ss,
         |    CAST(MIN(($PurityPack - nl) * $PurityPack + label) AS BIGINT)
         |      AS packed
         |  FROM cl GROUP BY 1)
         |SELECT CAST(cell AS BIGINT) AS cell, n,
         |  CAST(packed % $PurityPack AS BIGINT) AS top_label,
         |  CAST($PurityPack - (packed // $PurityPack) AS BIGINT) AS top_n,
         |  CAST($PurityPack - (packed // $PurityPack) AS DOUBLE) / n AS purity,
         |  CAST(n * n - ss AS DOUBLE) / (n * n) AS gini
         |FROM ag ORDER BY cell""".stripMargin
    }) { (s, dir) =>
    val e = Tables.embeddings(s, dir)
    val vq = Materialize(Ivf.quantized(e)) // read once per Lloyd pass + the final assignment
    val cs = Ivf.refinedCentsCollected(vq)
    Ivf.assignCellsLit(vq, cs).select(col("vec_id"), col("cell"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("nl"))
      .groupBy(col("cell"))
      .agg(sum(col("nl")).cast("long").as("n"),
        sum(col("nl") * col("nl")).cast("long").as("ss"),
        min((lit(PurityPack) - col("nl")) * PurityPack + col("label"))
          .cast("long").as("packed"))
      .select(col("cell").cast("long").as("cell"), col("n"),
        (col("packed") % PurityPack).cast("long").as("top_label"),
        (lit(PurityPack) - expr(s"packed div $PurityPack")).cast("long")
          .as("top_n"),
        ((lit(PurityPack) - expr(s"packed div $PurityPack")).cast("double")
          / col("n")).as("purity"),
        ((col("n") * col("n") - col("ss")).cast("double")
          / (col("n") * col("n"))).as("gini"))
      .orderBy(col("cell"))
  }

  private def prototypeOracle: String = {
    val (ctes, finalCents) = Ivf.quantizerOracleCtes
    val pk = 1 << Ivf.CellBits
    s"""WITH $ctes,
       |asgd AS (
       |  SELECT v.vec_id,
       |    CAST(min(${Ivf.sqDistSql("v.q", "c.q")} * $pk + c.cell) // $pk AS BIGINT) AS dist,
       |    CAST(min(${Ivf.sqDistSql("v.q", "c.q")} * $pk + c.cell) % $pk AS BIGINT) AS cell
       |  FROM vq v CROSS JOIN $finalCents c GROUP BY v.vec_id),
       |sz AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM asgd GROUP BY 1),
       |r AS (SELECT a.vec_id, a.cell, a.dist, sz.n,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY a.cell
       |      ORDER BY a.dist DESC, a.vec_id) AS BIGINT) AS rnk
       |  FROM asgd a JOIN sz USING (cell))
       |SELECT vec_id, cell, dist, rnk,
       |  CAST(CASE WHEN rnk <= (n + 1) // 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM r ORDER BY vec_id""".stripMargin
  }

  /** x189: cluster-prototype data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws: beating power-law scaling via data pruning") —
    * the published recipe for choosing WHICH examples to drop when the
    * corpus outgrows the compute budget: cluster the embedding space
    * (the x64 quantizer, one shared training definition), measure each
    * example's distance to its cluster centroid, and — in the
    * abundant-data regime — keep the HARD examples (far from the
    * prototype; easy near-centroid examples are redundant). The keep
    * rule is per-cluster (the paper's class-balanced form): rank members
    * by distance descending and keep the top ⌈n/2⌉ of every cell, so no
    * cluster is emptied by a global threshold.
    *
    * Exactness: distance is the quantizer's own integer squared L2
    * (exact int64, [[Ivf.sqDist]] bounds), the rank an exact integer,
    * the keep rule integer arithmetic — no doubles anywhere.
    *
    * Scale shape: training is x64 (literal-centroid tier); assignment +
    * distance is ONE pure-map pass ([[Ivf.assignCellsDistLit]] — the
    * packed argmin, no join); the per-cell hardness rank runs on
    * [[SegmentedRank]] (segment = arithmetic-shift of the negated
    * distance, ≤4096 segments) — at 100 TB a per-cell window partition
    * is corpus-sized (K is bounded), exactly the single-reducer shape
    * the registry's window audit forbids. Cell sizes are a K-row
    * broadcast. */
  val prototypePrune = Q.withOracle(
    "x189_prototype_prune",
    s"x189: SSL-prototype pruning (K=${Ivf.K}) - keep the hardest ⌈n/2⌉ per cell by exact integer distance-to-centroid rank",
    prototypeOracle) { (s, dir) =>
    val vq = Ivf.quantized(Tables.embeddings(s, dir))
      .materialized // read once per Lloyd pass + the final assignment
    val cs = Ivf.refinedCentsCollected(vq)
    val asg = Ivf.assignCellsDistLit(vq, cs)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("dist"))
    val sizes = asg.groupBy(col("cell"))
      .agg(count(lit(1)).cast("long").as("n"))
    val ranked = SegmentedRank.withGroupedRank(
      asg.withColumn("negd", -col("dist"))
        .withColumn("__seg", shiftright(col("negd"), 36)),
      Seq("cell"), "__seg", Seq(col("negd"), col("vec_id")), "rnk")
    ranked.join(broadcast(sizes), "cell")
      .select(col("vec_id"), col("cell"), col("dist"),
        col("rnk").cast("long").as("rnk"),
        when(col("rnk") <= expr("(n + 1) div 2"), 1L).otherwise(0L)
          .as("keep"))
      .orderBy(col("vec_id"))
  }

  val all: Seq[Q] = Seq(train, clusterPurity, prototypePrune)
}
