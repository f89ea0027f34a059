package graft.ext

import graft.{Materialize, Q, Tables}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for an LLM-data pipeline over `documents`:
  * exact (content-hash), exact n-gram Jaccard, MinHash+LSH approximate,
  * and SimHash. SURVEY.md §2.3 covers the reference's key-dedup (D1);
  * these are the content-dedup extensions the north star asks for.
  *
  * Scale design (100 TB):
  * - Exact dedup is a single hash-aggregate on md5(text) — one shuffle of
  *   (16-byte key, doc_id), no text movement.
  * - The all-pairs shingle join (x4) is intentionally the *verifier*, not
  *   the candidate generator: at scale you never self-join the full
  *   shingle table. MinHash+LSH (x2) generates candidates with one
  *   shuffle of 8 small band-hash rows per doc, then verifies only
  *   bucket-mates. The signature pass is a single groupBy(doc) with 32
  *   min() aggregates — map-side combined, no explosion of the seed axis.
  * - SimHash (x3) is one groupBy(doc) with 64 sum aggregates; candidate
  *   pairing at scale buckets on 16-bit simhash prefixes (same LSH idea).
  */
object Dedup {

  val NumHashes = 32
  val NumBands = 8 // 4 rows per band → catches jaccard ≳ 0.7 reliably

  /** THE near-dup verification cut (exact shingle Jaccard ≥ this), shared
    * by every batch member of the family (x2/x4/x16/x16b/x48/x166/x171)
    * and by [[graft.streaming.MinHashFeed]] — one constant, interpolated
    * into both the Spark filters and the oracle SQL, so the feed's
    * bit-equal-to-batch contract cannot desynchronize on the threshold
    * (r15 advice). */
  private[graft] val JaccardThreshold = 0.5
  /** The 32 min-hash functions are Kirsch–Mitzenmacher double hashes
    * `h_j = (hi + j·lo) mod 2^32` over ONE md5 per shingle (hi/lo = the
    * first two 32-bit hex lanes). One digest amortizes across all seeds:
    * a 32-md5-per-shingle family measured ~4s at sf0.1 (2M digest calls
    * dominate; the un-pruned aggregate exposed it), this one ~1s. KM
    * double hashing is the standard trick for k-hash sketches; the LSH
    * recall specs against exact x4 gate its quality empirically. Max
    * intermediate hi + 31·lo < 2^37: overflow-free on both engines. */
  val Mod32 = 4294967296L

  /** Distinct 3-gram shingle HASHES per doc: (doc_id, g: long), exploded.
    *
    * Third formulation, each measured at sf0.1:
    * 1. `transform(sequence(...), i → concat_ws(element_at...))` —
    *    interpreted higher-order functions with boxed elements, ~8s per
    *    evaluation. Rejected in round 1.
    * 2. posexplode → window `lead`×2 → concat_ws → xxhash64 — codegen'd
    *    but pays a full shuffle + per-doc sort just to align tokens.
    * 3. (current) native `shingle_hash3` expression: alignment is an
    *    array index, hashing inlines into whole-stage codegen, NO
    *    shuffle before the distinct. Hash values identical to form 2,
    *    so the self-join, MinHash seeds, and LSH bands are unchanged.
    *
    * Longs, not strings: the intersection joins only need equality, and
    * shuffling 8-byte longs instead of ~30-byte strings halves the
    * self-join's shuffle row width. Collision odds over the ~10^5
    * distinct shingles here are ~10^-10. */
  private[graft] def shingleHashes(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleHash3.shingleHash3(split(col("text"), " "))).as("g"))
      .distinct()
  }

  /** Hashed shingles with the doc's set size attached (window count) —
    * carrying `n` through the joins saves two extra evaluations of the
    * shingle subtree that separate `sizes` joins would cost. */
  private[graft] def shingleHashesWithCount(docs: DataFrame): DataFrame =
    shingleHashes(docs).withColumn("n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))

  /** MinHash signature: one row per doc, NumHashes min-hash columns, via
    * a single aggregation pass over the exploded shingles (map-side
    * combined, so the shuffle carries one partial row per (doc,
    * partition), not docs × shingles × seeds).
    *
    * The hash family is `h_j(g) = (hi(g) + j·lo(g)) mod 2^32` where
    * hi/lo are the first two 32-bit lanes of `md5(shingle-STRING)` —
    * deliberately engine-portable, so the whole MinHash+LSH pair set has
    * a DuckDB oracle (Spark: conv(hex,16,10); DuckDB: ('0x'||hex)::BIGINT
    * — an xxhash64-over-long family is what a Spark-only deployment would
    * run at 100 TB; the md5 form buys a hard cross-engine correctness
    * gate for the same plumbing). No distinct() before the aggregate:
    * MIN over the shingle multiset equals MIN over the set, so the
    * pre-aggregation dedup shuffle is pure waste.
    *
    * Measured note: the tempting "map-only" alternative —
    * `array_min(transform(gs, g → hash_j(g)))` × 32 over a shingle-array
    * column — benchmarked 7× SLOWER here (31s vs 4s at sf0.1): Spark's
    * higher-order array functions evaluate with boxed elements and the
    * 32 consumers each re-walk the array, while min() over exploded rows
    * runs in tight whole-stage codegen over unsafe rows. The shuffle it
    * avoids is the cheap part. */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    // ONE md5 per shingle, parsed once into (hi, lo) LONG lanes; the 32
    // per-seed mins are then pure integer arithmetic in a single
    // map-side-combined aggregation. min(long) keeps the pass in
    // HashAggregate's mutable unsafe-row buffer — min(string) demotes the
    // whole aggregate to SortAggregate (measured: sort cost dominated).
    val withLanes = docs.select(col("doc_id"),
        explode(graft.functions.ShingleStr3.shingleStr3(split(col("text"), " "))).as("g"))
      .withColumn("m", md5(col("g")))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("lo"))
    val mins = (0 until NumHashes).map { j =>
      min((col("hi") + lit(j.toLong) * col("lo")) % Mod32).as(s"mh$j")
    }
    withLanes.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: docs sharing any band of the signature (band
    * key = md5 over the band's '|'-joined DECIMAL min-hash renderings —
    * portable: both engines print an unsigned 32-bit value identically).
    *
    * Pairs come from grouping bucket-mates (`collect_list` per (band,
    * bucket) + in-bucket pair expansion), NOT from a banded self-join:
    * the self-join evaluates the whole signature pipeline once per side
    * (there is no exchange under a broadcast join side for Spark to
    * reuse), while this shape runs it once and shuffles each (band,
    * bucket, doc) row exactly once. LSH buckets are tiny by construction
    * (that is the point of banding), so the per-bucket quadratic
    * expansion is bounded; a pathological mega-bucket would mean the
    * band hash family is broken, not the plan. (That design note covers
    * [[bandRows]] + [[pairsFromBandRows]] = [[candidatePairs]].) */
  /** Band rows (doc_id, band, bh) of a signature frame — the LSH index
    * rows. Doc-local (each row is a pure function of its doc's
    * signature), which is what makes the [[graft.streaming.MinHashFeed]]
    * band index a pure-append store. */
  private[graft] def bandRows(sig: DataFrame): DataFrame = {
    val rowsPerBand = NumHashes / NumBands
    val bands = explode(array((0 until NumBands).map { b =>
      val cols = (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bh"))
    }: _*))
    sig.select(col("doc_id"), bands.as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** In-bucket pair expansion over band rows: docs sharing a (band, bh)
    * bucket, as distinct (doc_a < doc_b) pairs. */
  private[graft] def pairsFromBandRows(rows: DataFrame): DataFrame =
    rows
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    b -> struct(a AS doc_a, b AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  private[graft] def candidatePairs(sig: DataFrame): DataFrame =
    pairsFromBandRows(bandRows(sig))

  /** Exact Jaccard for given (doc_a, doc_b) pairs, from a
    * shingleHashesWithCount table (sizes ride along — no extra joins). */
  private[graft] def exactJaccard(pairs: DataFrame, shn: DataFrame): DataFrame =
    pairs
      .join(shn.select(col("doc_id").as("doc_a"), col("g"), col("n").as("n_a")), "doc_a")
      .join(shn.select(col("doc_id").as("doc_b"), col("g"), col("n").as("n_b")),
        Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
          .as("jac"))

  /** x1: exact dedup by content hash — survivor = min doc_id per md5(text).
    * Emits every group (n_copies=1 for uniques) so the result is non-empty
    * at every scale factor. */
  val exact = Q.withOracle(
    "x1_dedup_exact",
    "exact content dedup: md5 groups, deterministic survivor",
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS survivor_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("survivor_id"))
  }

  /** Shared DuckDB CTE chain ending in `scored` (all pairs with their
    * exact Jaccard) — the oracle-side twin of `scoredPairs`. */
  private val JaccardCtes =
    """toks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 2),
      |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM toks),
      |sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |inter AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |scored AS MATERIALIZED (
      |  SELECT doc_a, doc_b, n_common, za.n AS n_a, zb.n AS n_b,
      |    CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jac
      |  FROM inter
      |  JOIN sizes za ON doc_a = za.doc_id
      |  JOIN sizes zb ON doc_b = zb.doc_id)""".stripMargin

  /** All co-shingling pairs with exact Jaccard from a prepared
    * (doc_id, g, n) shingle table: one self-join — sizes ride the join,
    * jaccard falls out of the grouped intersection count directly. The
    * self-join consumes `shn` TWICE; pass a checkpointed table when the
    * plan must scan the corpus once (the x49 composed DAG does). */
  private[graft] def scoredPairsFrom(shn: DataFrame): DataFrame =
    shn.as("a").join(shn.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
          .as("jac"))

  private[graft] def scoredPairs(s: SparkSession, dir: String): DataFrame =
    scoredPairsFrom(shingleHashesWithCount(Tables.documents(s, dir)))

  /** x4: exact 3-gram Jaccard threshold join.
    *
    * Measured alternatives at sf0.1 (both correct): PPJoin-style prefix
    * filtering (rare-first prefixes joined, candidates verified) ran
    * SLOWER here because this synthetic corpus has a tiny uniform
    * vocabulary — no rare-shingle tail to exploit — and the df/window
    * passes cost more than they save. On a realistic Zipfian shingle
    * distribution prefix filtering is the 100 TB path; on this data the
    * direct join is. MinHash LSH (x2) remains the candidate-generation
    * scale path either way. */
  val jaccardPairs = Q.withOracle(
    "x4_jaccard_pairs",
    "exact shingle-Jaccard near-dup pairs (≥ 0.5)",
    s"""WITH $JaccardCtes
       |SELECT doc_a, doc_b, n_common, n_a, n_b, jac
       |FROM scored WHERE jac >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    scoredPairs(s, dir)
      .filter(col("jac") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Label-propagation rounds for x16 — covers any component diameter up
    * to 8; ExtSpec pins that round 8 is already a fixpoint on this data,
    * so Spark and the fixed-depth SQL oracle agree. */
  val CcRounds = 8

  /** (doc_a, doc_b) pairs → symmetric (u, v) edge list, consuming the
    * pair frame ONCE: both directions explode out of each input row.
    * The union(pairs, pairs.swap) form evaluates the pair subtree twice
    * — for x16/x16b that subtree is the shingle self-join, the most
    * expensive stage of the whole query (measured ~2× the edge-init
    * cost; Spark reuses no exchange across union branches here). */
  private[graft] def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("v")),
        struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** x16: near-dup pairs → clusters, by connected components over the
    * x4 pair graph (min-label propagation). Pairs alone under-report
    * duplication: A≈B and B≈C is one 3-document cluster with ONE
    * survivor, which only the transitive closure exposes.
    *
    * Scale design: each round is a join + groupBy(min) on the edge list —
    * all shuffles on the vertex key, no driver-side graph. Rounds grow
    * the label horizon one hop, so round count is bounded by component
    * diameter (near-dup clusters are tiny; 8 is generous). At real
    * petabyte scale the same loop with the large-star/small-star edge
    * rewrite (Kiveris et al.) converges in O(log n) rounds; lineage is
    * cut by materializing each round exactly as here. */
  /** The [[CcRounds]]-deep min-label CTE chain (`l0`..`l$CcRounds`) over
    * an `edges(u, v)` CTE the caller provides — the SQL twin of
    * [[ccLabels]], shared by the x16/x16b/x48 oracles and x192c's
    * frame-grain clusters. */
  private[ext] def ccChainCtes: String =
    s"""l0 AS MATERIALIZED (SELECT DISTINCT u AS v, u AS comp FROM edges),
       |${(1 to CcRounds).map { k =>
            s"""l$k AS MATERIALIZED (
               |  SELECT l.v, LEAST(l.comp, COALESCE(m.nbr, l.comp)) AS comp
               |  FROM l${k - 1} l LEFT JOIN (
               |    SELECT e.v AS v, MIN(l2.comp) AS nbr
               |    FROM edges e JOIN l${k - 1} l2 ON e.u = l2.v
               |    GROUP BY e.v) m ON l.v = m.v)""".stripMargin
          }.mkString(",\n")}""".stripMargin

  /** Oracle CTE prefix shared by x16/x16b/x48: the Jaccard pair graph
    * and the [[CcRounds]]-deep min-label chain ending at `l$CcRounds`. */
  private def ccOracleCtes: String =
    s"""$JaccardCtes,
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM scored WHERE jac >= $JaccardThreshold),
       |edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
       |$ccChainCtes""".stripMargin

  /** Min-label propagation to fixpoint over a SYMMETRIC edge list —
    * the x16 loop body, shared with the x49 composed DAG. Early exit at
    * the fixpoint: near-dup components have tiny diameter, so this
    * usually stops after 2 rounds instead of burning all [[CcRounds]] —
    * and a convergence-driven loop is the only correct shape at real
    * scale, where diameter is data-dependent. Result is identical to
    * the fixed-depth oracle because a fixpoint is stable under more
    * rounds (TemporalSpec pins fixpoint-by-8 on this data).
    * NOTE: the per-round isEmpty action means building this DataFrame
    * EXECUTES the loop (driver-coordinated iteration, as in any CC
    * implementation); plan audits over the returned frame see the final
    * labels behind checkpoints, not the loop's (all equi-) joins.
    * Superseded rounds are released; the returned labels are a view over
    * the last one, which the caller holds. */
  private[graft] def ccLabels(edges: DataFrame): DataFrame = {
    // each generation keeps its input label (comp) next to the new one
    // (comp2): materialized once, it feeds the check AND the next round
    def next(gen: DataFrame) = gen.select(col("v"), col("comp2").as("comp"))
    val seed = edges.select(col("u").as("v"), col("u").as("comp")).distinct()
    val (last, _) = Materialize.fixpoint(seed, CcRounds,
        (_, gen) => gen.filter(col("comp2") < col("comp")).isEmpty) { (gen, round) =>
      val labels = if (round == 1) gen else next(gen)
      val nbrMin = edges.join(labels.select(col("v").as("u"), col("comp")), "u")
        .groupBy(col("v")).agg(min(col("comp")).as("nbr"))
      labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), col("comp"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp2"))
    }
    next(last)
  }

  val dedupClusters = Q.withOracle(
    "x16_dedup_clusters",
    "x16: connected components over near-dup pairs (min-label propagation)",
    s"""WITH $ccOracleCtes
       |SELECT v AS doc_id, comp AS cluster_id,
       |  COUNT(*) OVER (PARTITION BY comp) AS n_members
       |FROM l$CcRounds ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pairs = scoredPairs(s, dir).filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    val edges = Materialize(symmetrize(pairs)) // computed once, read by every round
    ccLabels(edges)
      .select(col("v").as("doc_id"), col("comp").as("cluster_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("comp"))).as("n_members"))
      .orderBy(col("doc_id"))
  }

  /** One large-star or small-star rewrite round over a SYMMETRIC edge
    * list (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): per node u, m = min(N(u) ∪ {u}); large-star re-points
    * strictly larger neighbors at m, small-star re-points the rest (and u
    * itself). Each round is one groupBy(min) + one keyed join — the same
    * per-round shuffle shape as label propagation, but the alternation
    * converges in O(log n) rounds instead of O(diameter). */
  private[graft] def starRound(edges: DataFrame, large: Boolean): DataFrame = {
    // Join-free formulation: ONE groupBy(u) gathers the neighbor list
    // alongside its min, and the (neighbor, m) re-pointing explodes back
    // out of the grouped row — the edge list is consumed exactly once
    // per round (the groupBy+join form scanned it twice), and u itself
    // rides the appended slot so small-star's u→m edge needs no union
    // branch. Symmetrization explodes both directions from one row for
    // the same single-consumption reason (see `symmetrize`).
    val g = edges.groupBy(col("u"))
      .agg(min(col("v")).as("mn"), collect_list(col("v")).as("vs"))
      .select(col("u"), least(col("mn"), col("u")).as("m"),
        explode(array_append(col("vs"), col("u"))).as("v"))
    val repointed =
      if (large) g.filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
      else g.filter(col("v") <= col("u")) // v = u contributes the u→m edge
        .select(col("v").as("a"), col("m").as("b"))
    repointed.filter(col("a") =!= col("b"))
      .select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
  }

  /** starRound emits a duplicate-bearing edge MULTISET — min() and the
    * neighbor gather are insensitive to duplicates, so the intermediate
    * distinct between the two star passes of a double-round is a pure
    * extra shuffle. The caller distincts once per double-round, which
    * the fingerprint's set-equality argument requires. */
  private[graft] def starDoubleRound(edges: DataFrame): DataFrame =
    starRound(starRound(edges, large = true), large = false).distinct()

  /** x16b: the O(log n) connected-components form the x16 scaladoc
    * promises — alternating large-star/small-star edge rewrites until the
    * edge set is a fixpoint (a union of min-centered stars), then labels
    * read straight off the stars. Identical cluster assignment to x16's
    * label propagation, so it shares x16's DuckDB oracle verbatim; at
    * petabyte scale this is the variant that survives high-diameter
    * components (chains of pairwise near-dups), where per-round-one-hop
    * propagation needs O(diameter) rounds. */
  val dedupClustersStar = Q.withOracle(
    "x16b_dedup_clusters_star",
    "x16b: connected components via large-star/small-star (O(log n) rounds)",
    dedupClusters.oracle.get) { (s, dir) =>
    val pairs = scoredPairs(s, dir).filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    // No distinct on the initial edges: `pairs` is one row per unordered
    // doc pair (doc_a < doc_b), so symmetrize's two directed copies are
    // already a set — the distinct was a full extra shuffle of the
    // largest edge list. (Robust anyway: if an upstream ever produced
    // duplicate pairs, the initial fingerprint over the multiset could
    // only FAIL to match round 1's distinct-ed fingerprint — one wasted
    // round, never a wrong fixpoint, and the oracle gates the answer.)
    val seed = symmetrize(pairs).materialized
    // Fixpoint detection by (count, bit_xor of edge hashes): edge sets are
    // distinct-ed every round, so equal fingerprints mean equal sets (xor
    // collision odds 2^-64, and the DuckDB oracle still gates the final
    // answer). One tiny aggregate per round instead of two exceptAll
    // joins — at any scale the check costs one map-side-combined pass.
    // Option: bit_xor over ZERO rows is NULL, which cannot decode into a
    // bare Long — an edge-free corpus (no pair at the threshold) must
    // converge to an empty result, not throw.
    def fingerprint(e: DataFrame): (Long, Option[Long]) = {
      import e.sparkSession.implicits._
      e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).as[(Long, Option[Long])].head()
    }
    var fp = fingerprint(seed)
    // 20 ≈ log2 of any plausible n; the fixpoint check is the real stop
    val (edges, _) = Materialize.fixpoint(seed, 20, { (_, next) =>
      val fpNext = fingerprint(next)
      val converged = fpNext == fp
      fp = fpNext
      converged
    })((e, _) => starDoubleRound(e))
    // stars: a child's one neighbor is its center; a center's neighbors
    // are all larger children — least(min neighbor, self) labels both
    val labels = edges.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("doc_id"), least(col("mn"), col("u")).as("cluster_id"))
    labels.select(col("doc_id"), col("cluster_id"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))).as("n_members"))
      .orderBy(col("doc_id"))
  }

  /** x2: MinHash+LSH near-dup pairs — candidates from band buckets, then
    * exact verification of candidates only. Full DuckDB oracle: the
    * md5-based hash family (see `signatures`) is computable on both
    * engines, so the driver hash-checks the entire candidate+verify
    * pipeline, not just the verified survivors. */
  val minhash = Q.withOracle(
    "x2_minhash_lsh_pairs",
    "MinHash(32)+LSH(8 bands) candidates, verified ≥ 0.5",
    minhashOracle) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    exactJaccard(candidatePairs(signatures(docs)), shingleHashesWithCount(docs))
      .filter(col("jac") >= JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of the full x2 pipeline: same md5 signature family, same
    * banding, same exact-Jaccard verification (string shingles where the
    * Spark side joins their 64-bit hashes — identical sets, x4 contract). */
  /** The shingle→lanes→signature CTE prefix ending in `sig` (one row
    * per doc, mh0..mh${NumHashes−1}) — shared by the x2 oracle and
    * x165's banding sweep. */
  private def sigCtes: String = {
    val sigCols = (0 until NumHashes)
      .map(j => s"MIN((hi + $j * lo) % $Mod32) AS mh$j")
      .mkString(",\n    ")
    s"""$JaccardCtes,
       |lanes AS MATERIALIZED (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(g), 1, 8))::BIGINT AS hi,
       |    ('0x' || substr(md5(g), 9, 8))::BIGINT AS lo
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM lanes GROUP BY doc_id)""".stripMargin
  }

  private def minhashOracle: String = {
    val rowsPerBand = NumHashes / NumBands
    val bandSelects = (0 until NumBands).map { b =>
      val cat = (0 until rowsPerBand)
        .map(r => s"CAST(mh${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $sigCtes,
       |banded AS MATERIALIZED (
       |  $bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT s.doc_a, s.doc_b, s.n_common, s.n_a, s.n_b, s.jac
       |FROM cand c JOIN scored s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
       |WHERE s.jac >= $JaccardThreshold ORDER BY 1, 2""".stripMargin
  }

  /** DuckDB CTE chain for the portable simhash: distinct tokens → md5
    * (hi, lo) 32-bit lanes → 64 bit-vote sums → unsigned HUGEINT value
    * `u` in `uns`. Same recipe the x2 oracle proved: both engines parse
    * the first two 8-hex-char md5 lanes into exact integers, so every
    * downstream bit is reproducible. The signed BIGHINT conversion (two's
    * complement fold of `u`) happens in the consumer. */
  private def simhashCtes: String = {
    val voteSums = (0 until 64).map { p =>
      val (lane, sh) = if (p < 32) ("lo", p) else ("hi", p - 32)
      s"SUM(CASE WHEN (($lane >> $sh) & 1) = 1 THEN 1 ELSE -1 END) AS v$p"
    }.mkString(",\n    ")
    val uTerms = (0 until 64).map { p =>
      s"(CASE WHEN v$p > 0 THEN ${BigInt(1) << p}::HUGEINT ELSE 0::HUGEINT END)"
    }.mkString("\n    + ")
    s"""tok AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, t FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
       |tlanes AS MATERIALIZED (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
       |    ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
       |  FROM tok),
       |votes AS MATERIALIZED (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    $voteSums
       |  FROM tlanes GROUP BY doc_id),
       |uns AS MATERIALIZED (
       |  SELECT doc_id, n_tokens,
       |    $uTerms AS u
       |  FROM votes)""".stripMargin
  }

  /** `u` (unsigned HUGEINT) → signed 64-bit BIGINT, two's complement. */
  private def signedSimhash(u: String): String =
    s"CAST(CASE WHEN $u >= ${BigInt(1) << 63}::HUGEINT " +
      s"THEN $u - ${BigInt(1) << 64}::HUGEINT ELSE $u END AS BIGINT)"

  private def simhashOracle: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, ${signedSimhash("u")} AS simhash, n_tokens
       |FROM uns ORDER BY doc_id""".stripMargin

  /** x3: 64-bit SimHash per doc — one aggregation pass with 64 bit-vote
    * sums recombined into a long. The per-token 64 bits are the (lo, hi)
    * md5 lanes (bits 0–31 from lo, 32–63 from hi) — engine-portable, so
    * the full signature table has a DuckDB hash oracle (flipped from the
    * round-4 xxhash64 family, which only DuckDB couldn't reproduce);
    * DedupSpec additionally pins hamming locality for known near-dups. */
  val simhash = Q.withOracle(
    "x3_simhash",
    "64-bit SimHash per doc (bit votes over portable md5 token lanes)",
    simhashOracle) { (s, dir) =>
    val lanes = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      .withColumn("m", md5(col("t")))
      .select(col("doc_id"),
        conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("lo"))
    val votes = lanes.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (0 until 64).map { p =>
          val (lane, sh) = if (p < 32) (col("lo"), p) else (col("hi"), p - 32)
          sum(when(shiftright(lane, sh).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$p")
        }: _*)
    // Left-assoc sum of distinct powers of two: partials over bits 0..62
    // stay ≤ Long.MaxValue and the bit-63 term (Long.MinValue) lands on a
    // non-negative partial, so ANSI overflow checking never fires.
    val sim = (0 until 64).map { p =>
      when(col(s"v$p") > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col("doc_id"), sim.as("simhash"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Bands for x27: 4 × 16-bit slices of the 64-bit simhash. By
    * pigeonhole, any pair within hamming distance 3 leaves at least one
    * band untouched, so banding has recall 1.0 for the ≤3 threshold. */
  val SimhashBands = 4

  /** DuckDB twin of x27: same simhash CTEs, bands sliced from the
    * unsigned HUGEINT with integer div/mod (identical bits to Spark's
    * `shiftrightunsigned` on the signed long), hamming via
    * bit_count(xor) on the signed values — two's complement XOR is
    * bit-identical across engines. */
  private def simhashPairsOracle: String = {
    val bandSelects = (0 until SimhashBands).map { b =>
      s"SELECT doc_id, simhash, $b AS band, " +
        s"CAST((u // ${BigInt(1) << (b * 16)}::HUGEINT) % 65536 AS BIGINT) AS bh FROM shx"
    }.mkString("\n  UNION ALL ")
    s"""WITH $simhashCtes,
       |shx AS MATERIALIZED (
       |  SELECT doc_id, u, ${signedSimhash("u")} AS simhash FROM uns),
       |banded AS MATERIALIZED (
       |  $bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** x48: near-dup REMOVAL — the decision x16 only labels. One row per
    * corpus document: whether it sits in a near-dup cluster, and whether
    * it survives (min-id member per cluster; every unclustered doc
    * survives trivially). Completes the document-level family the way
    * x43 completed the span level: measure (x4) → cluster (x16) →
    * REMOVE (x48); a pipeline keeps `survivor` rows and has the
    * transitive-closure guarantee pairs alone can't give.
    *
    * Scale shape: composes the x16 cluster frame (already ≪ corpus — it
    * holds only edge-touched docs), one min-per-cluster hash-agg over
    * it, and two doc/cluster-keyed joins back to the doc list. The
    * cluster frame is NOT broadcast by assumption: near-dup mass grows
    * with the corpus. */
  val nearDupSurvivors = Q.withOracle(
    "x48_near_dup_survivors",
    "x48: per-doc near-dup survivor decision (min-id per x16 cluster)",
    s"""WITH $ccOracleCtes,
       |mn AS MATERIALIZED (
       |  SELECT comp, MIN(v) AS m FROM l$CcRounds GROUP BY comp)
       |SELECT d.doc_id,
       |  c.comp IS NOT NULL AS clustered,
       |  (c.comp IS NULL OR d.doc_id = mn.m) AS survivor
       |FROM documents d
       |LEFT JOIN l$CcRounds c ON d.doc_id = c.v
       |LEFT JOIN mn ON c.comp = mn.comp
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val cl = dedupClusters.fn(s, dir).select(col("doc_id"), col("cluster_id"))
    val mins = cl.groupBy(col("cluster_id")).agg(min(col("doc_id")).as("m"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .join(mins, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        col("cluster_id").isNotNull.as("clustered"),
        (col("cluster_id").isNull || col("doc_id") === col("m")).as("survivor"))
      .orderBy(col("doc_id"))
  }

  /** x49: the document-level dedup family composed END-TO-END in one
    * DAG (the x30 pattern, round-8 task): MEASURE (x4's exact-Jaccard
    * pair graph) → CLUSTER (x16's connected components) → REMOVE (x48's
    * min-id survivor rule), emitting per corpus document its near-dup
    * degree, cluster membership, and survivor decision.
    *
    * The point vs running x4 / x16 / x48 separately: the corpus TEXT is
    * scanned ONCE. The shingle table is checkpointed and feeds both
    * sides of the pair self-join; edges are checkpointed and feed the
    * CC loop, the degree aggregate, AND (through labels) the survivor
    * rule; the final doc list is a doc_id-only column-pruned scan.
    * x48 recomputing x16's chain per invocation is acceptable for a
    * registry query but not for the production pipeline — this is the
    * shape that pipeline runs. */
  val dedupPipeline = Q.withOracle(
    "x49_dedup_pipeline",
    "x49: measure -> cluster -> remove dedup DAG, one corpus scan",
    s"""WITH $ccOracleCtes,
       |mn AS MATERIALIZED (
       |  SELECT comp, MIN(v) AS m FROM l$CcRounds GROUP BY comp),
       |deg AS MATERIALIZED (
       |  SELECT u AS v, COUNT(*) AS n FROM edges GROUP BY u)
       |SELECT d.doc_id,
       |  CAST(COALESCE(deg.n, 0) AS BIGINT) AS n_neighbors,
       |  c.comp IS NOT NULL AS clustered,
       |  (c.comp IS NULL OR d.doc_id = mn.m) AS survivor
       |FROM documents d
       |LEFT JOIN l$CcRounds c ON d.doc_id = c.v
       |LEFT JOIN deg ON deg.v = d.doc_id
       |LEFT JOIN mn ON c.comp = mn.comp
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val shn = shingleHashesWithCount(Tables.documents(s, dir))
      .materialized // ONE corpus scan; the self-join reads this twice
    val pairs = scoredPairsFrom(shn).filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    val edges = symmetrize(pairs)
      .materialized // feeds the CC loop, the degree agg, the survivor rule
    val labels = ccLabels(edges)
    val mins = labels.groupBy(col("comp")).agg(min(col("v")).as("m"))
    val deg = edges.groupBy(col("u").as("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(labels.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .join(deg, Seq("doc_id"), "left")
      .join(mins, Seq("comp"), "left")
      .select(col("doc_id"),
        coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        col("comp").isNotNull.as("clustered"),
        (col("comp").isNull || col("doc_id") === col("m")).as("survivor"))
      .orderBy(col("doc_id"))
  }

  /** x27: SimHash near-dup pairs at scale — LSH-band the 64-bit simhash
    * (x3) into 16-bit buckets, self-join only within buckets, then verify
    * candidates with the exact hamming distance. Completes the simhash
    * story: x3 computes the fingerprint, x27 turns it into pairs without
    * the all-pairs comparison (the self-join touches only co-bucketed
    * docs; each doc contributes 4 rows of (16-bit key, id, hash)).
    * Full DuckDB oracle via the portable md5 family (round 5); ExtSpec
    * pins pigeonhole recall. */
  val simhashPairs = Q.withOracle(
    "x27_simhash_band_pairs",
    "x27: simhash LSH bands → hamming-verified near-dup pairs (≤ 3)",
    simhashPairsOracle)(
    (s, dir) => {
      // Materialized: the banded self-join reads this table TWICE (sides
      // a and b), and without materialization each side re-runs x3's
      // 64-aggregate vote pass — measured ~2× the query's cost. The
      // checkpointed table is tiny ((doc_id, long) per doc), so this is
      // cheap insurance at any scale.
      val sh = simhash.fn(s, dir).select(col("doc_id"), col("simhash"))
        .materialized
      val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until SimhashBands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bh"))
        }: _*)).as("bb"))
        .select(col("doc_id"), col("simhash"),
          col("bb.band").as("band"), col("bb.bh").as("bh"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          hamming(col("a.simhash"), col("b.simhash")).cast("long").as("hamming"))
        .distinct() // a pair can match in several bands
        .filter(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    })

  /** x42: cross-document repeated-span coverage — the per-doc "fraction
    * of tokens inside a substring duplicated across documents" signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499). A 3-gram occurring in ≥ 2 DISTINCT docs
    * is a repeated span; each occurrence covers its 3 token positions;
    * the measure is |union of covered positions| / n_tokens. (Production
    * span dedup uses longer windows — the window length is a constant of
    * the gram expression, not of this plan shape. On this corpus's tiny
    * synthetic vocabulary the signal saturates high, which the oracle
    * reproduces exactly.)
    *
    * Scale shape: gram extraction is the map-only native `shingle_str3`
    * (no shuffle before the aggregate); "repeated anywhere" is ONE
    * hash-aggregate on the gram key — min(doc) < max(doc) needs no
    * distinct-count — and the coverage union is a keyed join back on the
    * gram key plus one distinct on (doc, position): every shuffle is on
    * a gram or doc key, nothing is quadratic, nothing is collected. The
    * repeated-gram side is NOT broadcast by assumption: at corpus scale
    * it grows with the data, so the equi-join's shuffle is the design.
    *
    * The gram KEY is the literal gram string — the oracle's own
    * semantics, collision-free at any corpus size (round-8 advice: the
    * earlier 64-bit xxhash64 key silently diverges from the oracle on a
    * cross-doc hash collision, and at ~1e12 production grams the
    * birthday bound predicts dozens). A deployment that wants a
    * fixed-width shuffle key swaps in md5's two 64-bit lanes (x2's
    * portable family) — 128 bits keeps collisions below 1e-13 at 1e12
    * grams; a 64-bit key is the one width that is both temptingly cheap
    * and arithmetically wrong. */
  val repeatedSpans = Q.withOracle(
    "x42_repeated_spans",
    "x42: per-doc token coverage by 3-grams repeated across >= 2 docs",
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 2),
      |      i -> {'pos': i, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]})) AS u
      |  FROM toks),
      |ge AS MATERIALIZED (SELECT doc_id, (u).pos AS pos, (u).g AS g FROM g),
      |rep AS MATERIALIZED (
      |  SELECT g FROM ge GROUP BY g HAVING MIN(doc_id) < MAX(doc_id)),
      |cov AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, pos + o AS p
      |  FROM ge JOIN rep USING (g) CROSS JOIN generate_series(0, 2) z(o)),
      |per AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n FROM cov GROUP BY 1)
      |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(per.n, 0) AS BIGINT) AS n_rep_tokens,
      |  CAST(COALESCE(per.n, 0) AS DOUBLE) / len(string_split(d.text, ' ')) AS rep_frac
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // Position-bearing grams: the native expression returns the gram
    // array in token order, so posexplode's index IS the span start
    // (0-based here, 1-based in the oracle — coverage COUNTS are
    // shift-invariant, which is all the output exposes).
    val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleStr3.shingleStr3(split(col("text"), " "))))
      .select(col("doc_id"), col("pos"), col("col").as("g"))
    // "Repeated anywhere" as a window-min/max over the gram key: one
    // scan of the exploded corpus and one gram-keyed shuffle, vs the
    // agg + equi-join-back form's three scans (the x43 lesson — same
    // rewrite; 25% faster at the 10× probe factor, and the growth
    // curve flattens from 3.1× to 1.4× because the duplicated-scan
    // work no longer multiplies with the corpus).
    val w = Window.partitionBy(col("g"))
    val per = grams
      .withColumn("rep", min(col("doc_id")).over(w) < max(col("doc_id")).over(w))
      .filter(col("rep"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(2))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n"), lit(0L)).as("n_rep_tokens"),
        (coalesce(col("n"), lit(0L)).cast("double") / col("n_tokens")).as("rep_frac"))
      .orderBy(col("doc_id"))
  }

  /** Containment threshold for x134. */
  private val MinContainment = 0.8

  /** x134: shingle-CONTAINMENT pairs — the subset-duplicate detector
    * symmetric Jaccard structurally misses: a short document quoted
    * wholesale inside a long one has containment |A∩B|/|A| ≈ 1 while
    * its Jaccard |A∩B|/|A∪B| is tiny (the union is dominated by the
    * long side). Containment is THE dedup relation for quote/boilerplate
    * removal in a crawl (Broder's original resemblance/containment
    * pair). Same plan as x4 — the shingle equi-self-join already
    * carries n_common, n_a, n_b — only the final predicate changes, so
    * the candidate generation cost is identical and both relations
    * could share one scan in a fused pipeline (the x49 pattern). */
  val containmentPairs = Q.withOracle(
    "x134_containment_pairs",
    s"x134: directional shingle-containment pairs (max containment >= $MinContainment)",
    s"""WITH $JaccardCtes
       |SELECT doc_a, doc_b, n_common, n_a, n_b,
       |  CAST(n_common AS DOUBLE) / n_a AS a_in_b,
       |  CAST(n_common AS DOUBLE) / n_b AS b_in_a,
       |  jac
       |FROM scored
       |WHERE CAST(n_common AS DOUBLE) / n_a >= $MinContainment
       |   OR CAST(n_common AS DOUBLE) / n_b >= $MinContainment
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    scoredPairs(s, dir)
      .withColumn("a_in_b", col("n_common").cast("double") / col("n_a"))
      .withColumn("b_in_a", col("n_common").cast("double") / col("n_b"))
      .filter(col("a_in_b") >= MinContainment || col("b_in_a") >= MinContainment)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        col("a_in_b"), col("b_in_a"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of the x143 calibration: the x2 signature/band chain
    * plus a per-pair agreement count against the exact Jaccard. */
  private def calibrationOracle: String = {
    val rowsPerBand = NumHashes / NumBands
    val sigCols = (0 until NumHashes)
      .map(j => s"MIN((hi + $j * lo) % $Mod32) AS mh$j")
      .mkString(",\n    ")
    val bandSelects = (0 until NumBands).map { b =>
      val cat = (0 until rowsPerBand)
        .map(r => s"CAST(mh${b * rowsPerBand + r} AS VARCHAR)")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    val agreeSum = (0 until NumHashes)
      .map(j => s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $JaccardCtes,
       |lanes AS MATERIALIZED (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(g), 1, 8))::BIGINT AS hi,
       |    ('0x' || substr(md5(g), 9, 8))::BIGINT AS lo
       |  FROM sh),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM lanes GROUP BY doc_id),
       |banded AS MATERIALIZED (
       |  $bandSelects),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |agree AS (
       |  SELECT c.doc_a, c.doc_b, CAST($agreeSum AS BIGINT) AS k_agree
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b),
       |graded AS (
       |  SELECT a.k_agree, s.n_common,
       |    s.n_a + s.n_b - s.n_common AS u
       |  FROM agree a JOIN scored s
       |    ON s.doc_a = a.doc_a AND s.doc_b = a.doc_b)
       |SELECT
       |  (abs(k_agree * u - n_common * $NumHashes) * 8)
       |    // ($NumHashes * u) AS err_band,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(k_agree) AS BIGINT) AS sum_agree,
       |  CAST(SUM(n_common) AS BIGINT) AS sum_common,
       |  CAST(SUM(u) AS BIGINT) AS sum_union,
       |  CAST(SUM(k_agree) AS DOUBLE) / (COUNT(*) * $NumHashes) AS mean_est,
       |  CAST(SUM(n_common) AS DOUBLE) / SUM(u) AS pooled_jaccard
       |FROM graded GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** x143: MinHash estimator calibration — the evaluation harness for
    * the dedup sketch itself (x88's posture, pointed at x2): for every
    * LSH candidate pair, the signature-agreement estimate k_agree/32 is
    * compared against the EXACT shingle Jaccard, and pairs are bucketed
    * by absolute error in eighths. The error band is computed entirely
    * in integers by cross-multiplication — |k·u − c·32|·8 div (32·u) —
    * so no float ever decides a bucket; the two reported ratios are
    * single divisions of exact sums.
    *
    * Scale shape: the x2 pipeline's cost (signature agg + banded
    * buckets) plus one candidate-keyed join back to the signature table
    * and the candidate-only exact-Jaccard verify — candidates, never
    * docs², by the banding bound. */
  val minhashCalibration = Q.withOracle(
    "x143_minhash_calibration",
    s"x143: |minhash-estimate - exact-Jaccard| distribution over LSH candidates (integer eighth-bands)",
    calibrationOracle) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val sig = Materialize(signatures(docs)) // read by banding AND twice by the agree join
    val cand = candidatePairs(sig)
    val agreeExpr = (0 until NumHashes)
      .map(j => when(col(s"a.mh$j") === col(s"b.mh$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val agree = cand
      .join(sig.as("a"), col("a.doc_id") === col("doc_a"))
      .join(sig.as("b"), col("b.doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), agreeExpr.cast("long").as("k_agree"))
    val ex = exactJaccard(cand, shingleHashesWithCount(docs))
    agree.join(ex, Seq("doc_a", "doc_b"))
      .withColumn("u", col("n_a") + col("n_b") - col("n_common"))
      .select(col("k_agree"), col("n_common"), col("u"))
      .withColumn("err_band", expr(
        s"(abs(k_agree * u - n_common * $NumHashes) * 8) div ($NumHashes * u)"))
      .groupBy(col("err_band"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("k_agree")).cast("long").as("sum_agree"),
        sum(col("n_common")).cast("long").as("sum_common"),
        sum(col("u")).cast("long").as("sum_union"))
      .select(col("err_band"), col("n_pairs"), col("sum_agree"),
        col("sum_common"), col("sum_union"),
        (col("sum_agree").cast("double") / (col("n_pairs") * NumHashes))
          .as("mean_est"),
        (col("sum_common").cast("double") / col("sum_union"))
          .as("pooled_jaccard"))
      .orderBy(col("err_band"))
  }

  /** The (bands, rows) factorizations of [[NumHashes]] x165 sweeps. */
  private val LshConfigs: Seq[(Int, Int)] =
    (0 to 5).map(i => (1 << i, NumHashes >> i)) // (1,32) (2,16) … (32,1)

  /** x165: LSH banding-parameter sweep — the index-tuning table that
    * justifies x2's (8, 4) choice with MEASURED data instead of folklore:
    * for every (b bands × r rows) factorization of the [[NumHashes]]
    * signature, the bucket census and the candidate PROBE VOLUME
    * Σ c·(c−1)/2 over bucket sizes c — computed from sizes alone, so no
    * pair list ever materializes even for the pathological r = 1 config
    * whose mega-buckets would explode a pair join (that blowup is the
    * phenomenon the table exists to SHOW). Probe volume counts per-band
    * duplicates deliberately: it is the verification COST a config
    * incurs, not the distinct-pair yield. The analytic detection
    * probability at Jaccard 0.5, 1 − (1 − 0.5^r)^b, is a per-config
    * CONSTANT computed once in Scala and inlined as a literal into both
    * engines (shortest-round-trip doubles — no cross-engine pow).
    *
    * Scale shape: one signature pass (the x2 cost), then per config one
    * (band, bh) hash agg over b rows/doc and a 6-row rollup — counts
    * only, never pairs. */
  val lshTuning = Q.withOracle(
    "x165_lsh_tuning",
    s"x165: LSH (bands x rows) sweep of $NumHashes-hash signatures - bucket census + probe volume",
    {
      val bandSelects = LshConfigs.map { case (b, r) =>
        (0 until b).map { bb =>
          val cat = (0 until r).map(i => s"CAST(mh${bb * r + i} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"SELECT doc_id, $b AS cfg_bands, $r AS cfg_rows, $bb AS band, md5($cat) AS bh FROM sig"
        }.mkString("\n  UNION ALL ")
      }.mkString("\n  UNION ALL ")
      // CAST('…' AS DOUBLE): a bare decimal literal would be typed
      // DECIMAL first and lose bits on the re-cast; the string parse
      // goes straight to the nearest double (= the Scala value, since
      // Double.toString is shortest-round-trip)
      val detectCase = LshConfigs.map { case (b, r) =>
        val p = 1.0 - math.pow(1.0 - math.pow(0.5, r), b)
        s"WHEN cfg_rows = $r THEN CAST('$p' AS DOUBLE)"
      }.mkString(" ")
      s"""WITH $sigCtes,
         |banded AS MATERIALIZED (
         |  $bandSelects),
         |sz AS MATERIALIZED (
         |  SELECT cfg_bands, cfg_rows, band, bh, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM banded GROUP BY 1, 2, 3, 4)
         |SELECT CAST(cfg_bands AS BIGINT) AS cfg_bands,
         |  CAST(cfg_rows AS BIGINT) AS cfg_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_colliding,
         |  CAST(MAX(c) AS BIGINT) AS max_bucket,
         |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS probe_pairs,
         |  CASE $detectCase END AS p_detect_50
         |FROM sz GROUP BY cfg_bands, cfg_rows ORDER BY cfg_bands""".stripMargin
    }) { (s, dir) =>
    val sig = signatures(Tables.documents(s, dir))
      .materialized // one signature pass feeds all six bandings
    val banded = LshConfigs.map { case (b, r) =>
      val bands = explode(array((0 until b).map { bb =>
        val cols = (0 until r).map(i => col(s"mh${bb * r + i}").cast("string"))
        struct(lit(bb).as("band"), md5(concat_ws("|", cols: _*)).as("bh"))
      }: _*))
      sig.select(lit(b.toLong).as("cfg_bands"), lit(r.toLong).as("cfg_rows"),
        bands.as("x"))
        .select(col("cfg_bands"), col("cfg_rows"),
          col("x.band").as("band"), col("x.bh").as("bh"))
    }.reduce(_ unionAll _)
    val detect = LshConfigs.foldLeft(lit(null).cast("double")) { case (acc, (b, r)) =>
      when(col("cfg_rows") === r,
        lit(1.0 - math.pow(1.0 - math.pow(0.5, r), b))).otherwise(acc)
    }
    banded
      .groupBy(col("cfg_bands"), col("cfg_rows"), col("band"), col("bh"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cfg_bands"), col("cfg_rows"))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).cast("long").as("n_colliding"),
        max(col("c")).cast("long").as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).cast("long").as("probe_pairs"))
      .withColumn("p_detect_50", detect)
      .orderBy(col("cfg_bands"))
  }

  /** x166: transitivity audit of the near-dup threshold graph — the
    * cluster-coherence question a threshold-based dedup (x16) silently
    * assumes away: similarity is NOT transitive, so a ≥0.5 pair graph
    * can chain A~B~C with A≁C and a connected-component "cluster"
    * swallows documents that share nothing. The global clustering
    * coefficient 3·triangles / wedges over x4's exact pair graph
    * measures exactly how often the assumption holds (1.0 = every
    * cluster is a clique; low = chaining is rife and the survivor
    * choice is doing real work). Wedges come from the degree table
    * (Σ d(d−1)/2, no joins); triangles from two equi-joins over the
    * (tiny relative to the corpus) pair set with the a<b<c canonical
    * order. All exact integers, one final division, NULL when no
    * wedge exists.
    *
    * Scale shape: rides x4's pair generation (at real scale the
    * candidate tier is x2's LSH — same audit applies to its verified
    * pairs); the audit itself is degree-linear + pair-keyed joins over
    * the pair table, never the corpus. */
  val dedupTransitivity = Q.withOracle(
    "x166_dedup_transitivity",
    "x166: global clustering coefficient of the >= 0.5 near-dup pair graph",
    s"""WITH $JaccardCtes,
       |e AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM scored WHERE jac >= $JaccardThreshold),
       |deg AS (
       |  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
       |  GROUP BY v),
       |wg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
       |  FROM deg),
       |tri AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |  FROM e x JOIN e y ON y.a = x.b JOIN e z
       |    ON z.a = x.a AND z.b = y.b),
       |ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
       |SELECT wg.n_nodes, ec.n_edges, wg.n_wedges, tri.n_triangles,
       |  CASE WHEN wg.n_wedges > 0
       |    THEN CAST(3 * tri.n_triangles AS DOUBLE) / wg.n_wedges
       |  END AS transitivity
       |FROM wg, ec, tri""".stripMargin) { (s, dir) =>
    val e = scoredPairs(s, dir).filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .materialized // pair set read five ways below
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wg = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"))
    val tri = e.as("x")
      .join(e.as("y"), col("y.a") === col("x.b"))
      .join(e.as("z"), col("z.a") === col("x.a") && col("z.b") === col("y.b"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val ec = e.agg(count(lit(1)).cast("long").as("n_edges"))
    wg.crossJoin(broadcast(ec)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          (col("n_triangles") * 3).cast("double") / col("n_wedges"))
          .as("transitivity"))
  }

  /** x169: dedup savings report — the capacity-planning readout of x1's
    * survivor rule, per source: how many documents and how many BYTES
    * does exact dedup remove from each feed ("source Y is 40% redundant
    * — renegotiate or de-prioritize it"). Survivorship is GLOBAL (the
    * x1 min-doc_id rule), so a source whose content duplicates another
    * source's earlier documents is charged for it — exactly the
    * cross-feed redundancy a mix designer needs attributed. Exact
    * integer counts/chars; one final division per source.
    *
    * Scale shape: the x1 hash agg (one shuffle on md5(text)) joined
    * back to doc grain on the hash key, then one source-keyed agg —
    * output is |sources| rows. */
  val dedupSavings = Q.withOracle(
    "x169_dedup_savings",
    "x169: per-source docs/bytes removed by exact dedup (global survivor rule)",
    """WITH surv AS MATERIALIZED (
      |  SELECT md5(text) AS h, MIN(doc_id) AS keep FROM documents GROUP BY 1),
      |d AS (
      |  SELECT doc_id, source, n_chars,
      |    CASE WHEN doc_id = s.keep THEN 1 ELSE 0 END AS kept
      |  FROM documents JOIN surv s ON md5(text) = s.h)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  CAST(SUM(kept * n_chars) AS BIGINT) AS chars_kept,
      |  CAST(SUM(n_chars) - SUM(kept * n_chars) AS DOUBLE) / SUM(n_chars)
      |    AS savings
      |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h"))
    val surv = docs.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))
    docs.join(surv, "h")
      .select(col("source"), col("n_chars"),
        when(col("doc_id") === col("keep"), 1L).otherwise(0L).as("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("kept")).cast("long").as("n_kept"),
        sum(col("n_chars")).cast("long").as("chars_total"),
        sum(col("kept") * col("n_chars")).cast("long").as("chars_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("chars_total"),
        col("chars_kept"),
        ((col("chars_total") - col("chars_kept")).cast("double")
          / col("chars_total")).as("savings"))
      .orderBy(col("source"))
  }

  /** x170: the MIX-DESIGN report composed end-to-end in one DAG (the
    * x49 pattern applied to the round-12 audit family): DEDUP (x1's
    * global survivor rule) → ATTRIBUTE (each removed doc charged to the
    * source that kept the survivor — x169's cross-feed redundancy made
    * an explicit within/cross split) → REWEIGH (x44's α = 1/2
    * temperature acceptance over the DEDUPED corpus) → per-source mix
    * weights over the resampled character mass. This is the decision
    * table a training-mix designer reads: how much of each feed
    * survives dedup, who its duplication is owed to, and what share of
    * the final mixture it contributes.
    *
    * The point vs running x169 + x44 separately: the corpus TEXT is
    * scanned (and md5'd) ONCE — the slim (doc_id, source, lang,
    * n_chars, h) frame is checkpointed and feeds the survivor agg, the
    * survivor-source attribution join, the post-dedup language counts,
    * and the acceptance pass (PlanSpec pins the single-scan claim).
    * Exactness: counts/chars are exact longs; the x44 rate is one
    * correctly-rounded division + one IEEE-mandated sqrt; the accept
    * cut is x26's integer Knuth hash; savings and mix_weight are one
    * double division each over exact longs — every column replays
    * bit-identically in DuckDB.
    *
    * Scale shape: one corpus scan, the x1 hash-keyed agg + two
    * doc-keyed joins (survivor, survivor-source), then everything
    * downstream is source/lang-bounded aggregates with broadcast rate
    * and total scalars. */
  val mixDesign = Q.withOracle(
    "x170_mix_design",
    "x170: composed mix-design report (dedup savings -> cross-feed attribution -> temperature mix weights)",
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, source, lang, n_chars, md5(text) AS h FROM documents),
       |surv AS MATERIALIZED (
       |  SELECT h, MIN(doc_id) AS keep FROM d GROUP BY 1),
       |j AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, d.lang, d.n_chars,
       |    d.doc_id = s.keep AS kept, ks.source AS keep_source
       |  FROM d JOIN surv s ON d.h = s.h
       |  JOIN d ks ON ks.doc_id = s.keep),
       |sav AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       |    CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
       |      AS chars_kept,
       |    CAST(SUM(CASE WHEN NOT kept AND keep_source = source
       |      THEN 1 ELSE 0 END) AS BIGINT) AS dup_within,
       |    CAST(SUM(CASE WHEN NOT kept AND keep_source <> source
       |      THEN 1 ELSE 0 END) AS BIGINT) AS dup_cross
       |  FROM j GROUP BY 1),
       |n AS (SELECT lang, COUNT(*) AS nl FROM j WHERE kept GROUP BY lang),
       |r AS (SELECT lang,
       |        sqrt(CAST((SELECT MIN(nl) FROM n) AS DOUBLE) / nl) AS rate
       |      FROM n),
       |acc AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS docs_resampled,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars_resampled
       |  FROM j JOIN r USING (lang)
       |  WHERE kept AND
       |    (CAST(((doc_id % ${Sampling.SamplePrime}) * ${Sampling.KnuthModP})
       |       % ${Sampling.SamplePrime} AS DOUBLE) / ${Sampling.SamplePrime})
       |      < r.rate
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(chars_resampled) AS BIGINT) AS t FROM acc)
       |SELECT sav.source, n_docs, n_kept, chars_total, chars_kept,
       |  dup_within, dup_cross,
       |  CAST(COALESCE(docs_resampled, 0) AS BIGINT) AS docs_resampled,
       |  CAST(COALESCE(chars_resampled, 0) AS BIGINT) AS chars_resampled,
       |  CAST(chars_total - chars_kept AS DOUBLE) / chars_total AS savings,
       |  CASE WHEN t > 0 THEN
       |    CAST(COALESCE(chars_resampled, 0) AS DOUBLE) / t END AS mix_weight
       |FROM sav LEFT JOIN acc USING (source) CROSS JOIN tot
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"))
      .materialized // ONE corpus text scan; all stages ride this slim frame
    val surv = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))
    val j = d.join(surv, "h")
      .join(d.select(col("doc_id").as("keep"), col("source").as("keep_source")),
        "keep")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        (col("doc_id") === col("keep")).as("kept"), col("keep_source"))
      .materialized // doc-grain decisions read three ways below
    val sav = j.groupBy(col("source")).agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_kept"),
      sum(col("n_chars")).cast("long").as("chars_total"),
      sum(when(col("kept"), col("n_chars")).otherwise(0L)).cast("long")
        .as("chars_kept"),
      sum(when(!col("kept") && col("keep_source") === col("source"), 1L)
        .otherwise(0L)).cast("long").as("dup_within"),
      sum(when(!col("kept") && col("keep_source") =!= col("source"), 1L)
        .otherwise(0L)).cast("long").as("dup_cross"))
    val kept = j.filter(col("kept"))
    val n = kept.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val nmin = n.agg(min(col("nl")).as("nmin"))
    val rates = n.crossJoin(broadcast(nmin))
      .select(col("lang"),
        sqrt(col("nmin").cast("double") / col("nl")).as("rate"))
    val acc = kept.join(broadcast(rates), "lang")
      .filter(((col("doc_id") % Sampling.SamplePrime) * lit(Sampling.KnuthModP)
          % Sampling.SamplePrime).cast("double") / Sampling.SamplePrime
        < col("rate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("docs_resampled"),
        sum(col("n_chars")).cast("long").as("chars_resampled"))
    val tot = acc.agg(sum(col("chars_resampled")).cast("long").as("t"))
    sav.join(acc, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_kept"), col("chars_total"),
        col("chars_kept"), col("dup_within"), col("dup_cross"),
        coalesce(col("docs_resampled"), lit(0L)).as("docs_resampled"),
        coalesce(col("chars_resampled"), lit(0L)).as("chars_resampled"),
        ((col("chars_total") - col("chars_kept")).cast("double")
          / col("chars_total")).as("savings"),
        when(col("t") > 0,
          coalesce(col("chars_resampled"), lit(0L)).cast("double")
            / col("t").cast("double")).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** x170b gate: max duplicate-pseudo-line fraction, as an exact rational
    * (Gopher's 0.30 duplicate-line-fraction cut). The compare is pure
    * integer — GateDupDen·dup ≤ GateDupNum·n_lines — so no float ever
    * enters the gate decision. */
  private[ext] val GateLineLen = 10
  private[ext] val GateDupNum = 3
  private[ext] val GateDupDen = 10

  /** Per-ROW duplicate-pseudo-line gate (true = document passes). Unlike
    * x175's corpus-grain explode→agg form, this is a pure array
    * expression over one row — no shuffle, no second corpus scan — so
    * x170b can compute it inside the SAME projection that md5's the text
    * and keep the one-scan composition claim. Dup counting needs only
    * EQUALITY grouping, so the sort order itself never matters: an
    * element is a duplicate iff it equals a neighbor after array_sort.
    * Out-of-range `get` returns null and null-OR-false stays null, which
    * `filter` drops — the boundary cases fall out for free. */
  private[graft] def dupLineGate(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    gateFromSorted(gateSortedLines(text))

  /** The gate's sorted pseudo-line array — PROJECT THIS AS ITS OWN
    * COLUMN before applying [[gateFromSorted]]: higher-order functions
    * run interpreted (outside codegen, no subexpression elimination), so
    * inlining this producer under the gate predicate's five references
    * re-evaluates the whole split→window→sort per lambda element —
    * measured ~9× slower on the r14 x181/x170b profile. Layered
    * projections keep it evaluated once per row (CollapseProject leaves
    * non-cheap multiply-referenced producers alone). */
  private[ext] def gateSortedLines(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ts = split(text, " ")
    array_sort(transform(
      sequence(lit(0), ((size(ts) + lit(GateLineLen - 1)) / lit(GateLineLen))
        .cast("int") - 1),
      k => array_join(slice(ts, k * GateLineLen + 1, lit(GateLineLen)), " ")))
  }

  /** Gate predicate over the sorted line array (true = passes). */
  private[ext] def gateFromSorted(ls: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dup = size(filter(sequence(lit(1), size(ls)),
      i => get(ls, i - 1) === get(ls, i - 2) || get(ls, i - 1) === get(ls, i)))
    lit(GateDupDen) * dup <= lit(GateDupNum) * size(ls)
  }

  /** x170b: the mix-design DAG of x170 with the QUALITY GATE a real
    * pretraining pipeline runs between dedup and temperature reweighing
    * (the Gopher duplicate-line rule, x175's first column): survivors
    * whose duplicate-pseudo-line fraction exceeds 3/10 are excluded from
    * the language counts, the acceptance pass, and the final mixture,
    * and reported per source as docs_gated/chars_gated telemetry (the
    * x154 posture: a guard that drops data must say what it dropped).
    *
    * STILL one corpus text scan: the gate is a per-row array expression
    * (see [[dupLineGate]]) computed in the same projection as the md5,
    * so the checkpointed slim frame simply gains a `pass` boolean —
    * PlanSpec pins the no-rescan claim exactly as for x170. Exactness:
    * the gate compare is integer, everything else is x170's arithmetic.
    *
    * Scale shape: identical to x170 (one scan, hash-keyed survivor agg,
    * two doc-keyed joins, source/lang-bounded rollups with broadcast
    * scalars); the gate adds zero shuffles. */
  val mixDesignGated = Q.withOracle(
    "x170b_mix_design_gated",
    "x170b: mix design with a Gopher dup-line quality gate between dedup and reweighing",
    s"""WITH t0 AS (
       |  SELECT doc_id, source, lang, n_chars, md5(text) AS h,
       |    string_split(text, ' ') AS ts
       |  FROM documents),
       |t1 AS (
       |  SELECT doc_id, source, lang, n_chars, h,
       |    list_sort(list_transform(
       |      generate_series(0, (len(ts) + ${GateLineLen - 1}) // $GateLineLen - 1),
       |      k -> array_to_string(
       |        list_slice(ts, k*$GateLineLen+1, k*$GateLineLen+$GateLineLen), ' '))) AS ls
       |  FROM t0),
       |d AS MATERIALIZED (
       |  SELECT doc_id, source, lang, n_chars, h,
       |    $GateDupDen * len(list_filter(generate_series(1, len(ls)),
       |      i -> ls[i] = ls[i-1] OR ls[i] = ls[i+1]))
       |      <= $GateDupNum * len(ls) AS pass
       |  FROM t1),
       |surv AS MATERIALIZED (
       |  SELECT h, MIN(doc_id) AS keep FROM d GROUP BY 1),
       |j AS MATERIALIZED (
       |  SELECT d.doc_id, d.source, d.lang, d.n_chars, d.pass,
       |    d.doc_id = s.keep AS kept, ks.source AS keep_source
       |  FROM d JOIN surv s ON d.h = s.h
       |  JOIN d ks ON ks.doc_id = s.keep),
       |sav AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       |    CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT)
       |      AS chars_kept,
       |    CAST(SUM(CASE WHEN NOT kept AND keep_source = source
       |      THEN 1 ELSE 0 END) AS BIGINT) AS dup_within,
       |    CAST(SUM(CASE WHEN NOT kept AND keep_source <> source
       |      THEN 1 ELSE 0 END) AS BIGINT) AS dup_cross,
       |    CAST(SUM(CASE WHEN kept AND NOT pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS docs_gated,
       |    CAST(SUM(CASE WHEN kept AND NOT pass THEN n_chars ELSE 0 END)
       |      AS BIGINT) AS chars_gated
       |  FROM j GROUP BY 1),
       |n AS (SELECT lang, COUNT(*) AS nl FROM j WHERE kept AND pass
       |      GROUP BY lang),
       |r AS (SELECT lang,
       |        sqrt(CAST((SELECT MIN(nl) FROM n) AS DOUBLE) / nl) AS rate
       |      FROM n),
       |acc AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS docs_resampled,
       |    CAST(SUM(n_chars) AS BIGINT) AS chars_resampled
       |  FROM j JOIN r USING (lang)
       |  WHERE kept AND pass AND
       |    (CAST(((doc_id % ${Sampling.SamplePrime}) * ${Sampling.KnuthModP})
       |       % ${Sampling.SamplePrime} AS DOUBLE) / ${Sampling.SamplePrime})
       |      < r.rate
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(chars_resampled) AS BIGINT) AS t FROM acc)
       |SELECT sav.source, n_docs, n_kept, chars_total, chars_kept,
       |  dup_within, dup_cross, docs_gated, chars_gated,
       |  CAST(COALESCE(docs_resampled, 0) AS BIGINT) AS docs_resampled,
       |  CAST(COALESCE(chars_resampled, 0) AS BIGINT) AS chars_resampled,
       |  CAST(chars_total - chars_kept AS DOUBLE) / chars_total AS savings,
       |  CASE WHEN t > 0 THEN
       |    CAST(COALESCE(chars_resampled, 0) AS DOUBLE) / t END AS mix_weight
       |FROM sav LEFT JOIN acc USING (source) CROSS JOIN tot
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("text"), gateSortedLines(col("text")).as("ls"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"), gateFromSorted(col("ls")).as("pass"))
      .materialized // ONE corpus text scan — md5 AND gate ride it
      // (two LAYERED projections, still one scan: the sorted-line array
      // must be an attribute under the gate's five references — see
      // gateSortedLines — or the interpreted HOF re-evaluates it per
      // lambda element, measured ~9× slower)
    val surv = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))
    val j = d.join(surv, "h")
      .join(d.select(col("doc_id").as("keep"), col("source").as("keep_source")),
        "keep")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        col("pass"), (col("doc_id") === col("keep")).as("kept"),
        col("keep_source"))
      .materialized // doc-grain decisions read three ways below
    val sav = j.groupBy(col("source")).agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(when(col("kept"), 1L).otherwise(0L)).cast("long").as("n_kept"),
      sum(col("n_chars")).cast("long").as("chars_total"),
      sum(when(col("kept"), col("n_chars")).otherwise(0L)).cast("long")
        .as("chars_kept"),
      sum(when(!col("kept") && col("keep_source") === col("source"), 1L)
        .otherwise(0L)).cast("long").as("dup_within"),
      sum(when(!col("kept") && col("keep_source") =!= col("source"), 1L)
        .otherwise(0L)).cast("long").as("dup_cross"),
      sum(when(col("kept") && !col("pass"), 1L).otherwise(0L)).cast("long")
        .as("docs_gated"),
      sum(when(col("kept") && !col("pass"), col("n_chars")).otherwise(0L))
        .cast("long").as("chars_gated"))
    val clean = j.filter(col("kept") && col("pass"))
    val n = clean.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val nmin = n.agg(min(col("nl")).as("nmin"))
    val rates = n.crossJoin(broadcast(nmin))
      .select(col("lang"),
        sqrt(col("nmin").cast("double") / col("nl")).as("rate"))
    val acc = clean.join(broadcast(rates), "lang")
      .filter(((col("doc_id") % Sampling.SamplePrime) * lit(Sampling.KnuthModP)
          % Sampling.SamplePrime).cast("double") / Sampling.SamplePrime
        < col("rate"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("docs_resampled"),
        sum(col("n_chars")).cast("long").as("chars_resampled"))
    val tot = acc.agg(sum(col("chars_resampled")).cast("long").as("t"))
    sav.join(acc, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_kept"), col("chars_total"),
        col("chars_kept"), col("dup_within"), col("dup_cross"),
        col("docs_gated"), col("chars_gated"),
        coalesce(col("docs_resampled"), lit(0L)).as("docs_resampled"),
        coalesce(col("chars_resampled"), lit(0L)).as("chars_resampled"),
        ((col("chars_total") - col("chars_kept")).cast("double")
          / col("chars_total")).as("savings"),
        when(col("t") > 0,
          coalesce(col("chars_resampled"), lit(0L)).cast("double")
            / col("t").cast("double")).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** x171: split-leakage audit — the hygiene check a training pipeline
    * runs BEFORE trusting its held-out metrics: near-duplicate pairs
    * (x4's verified ≥ 0.5 Jaccard relation) classified against x17's
    * deterministic md5 train/holdout split. A holdout document with a
    * near-dup in train inflates every evaluation it touches — exact
    * dedup (x1) can't see it, and the split (x17) is content-blind by
    * design, so ONLY their composition surfaces it. Output: pair counts
    * per (split, split) class, with the doc-level damage as certificate
    * columns (distinct leaked holdout docs, holdout size, leak rate —
    * the x154 telemetry posture).
    *
    * Scale shape: the pair table (LSH-bounded, ≪ corpus) joins the
    * doc-keyed split table twice, one 3-row class agg; the leak count
    * explodes pairs into directed ends and dedups — everything keyed,
    * nothing corpus-quadratic. At real scale the pair input is x2's
    * LSH-verified relation; the audit is indifferent to which tier
    * produced the pairs. */
  val splitLeakage = Q.withOracle(
    "x171_split_leakage",
    "x171: near-dup pairs straddling the train/holdout split + leaked-doc rate",
    s"""WITH $JaccardCtes,
       |e AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM scored WHERE jac >= $JaccardThreshold),
       |sp AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
       |      THEN 'holdout' ELSE 'train' END AS split
       |  FROM documents),
       |cls AS (
       |  SELECT LEAST(a.split, b.split) AS split_a,
       |    GREATEST(a.split, b.split) AS split_b
       |  FROM e JOIN sp a ON e.doc_a = a.doc_id
       |  JOIN sp b ON e.doc_b = b.doc_id),
       |ends AS (
       |  SELECT doc_a AS d, doc_b AS o FROM e
       |  UNION ALL SELECT doc_b, doc_a FROM e),
       |leaked AS (
       |  SELECT DISTINCT ends.d FROM ends
       |  JOIN sp sd ON ends.d = sd.doc_id AND sd.split = 'holdout'
       |  JOIN sp so ON ends.o = so.doc_id AND so.split = 'train'),
       |lk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked_holdout FROM leaked),
       |hn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_holdout
       |       FROM sp WHERE split = 'holdout')
       |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  n_leaked_holdout, n_holdout,
       |  CASE WHEN n_holdout > 0 THEN
       |    CAST(n_leaked_holdout AS DOUBLE) / n_holdout END AS holdout_leak_rate
       |FROM cls CROSS JOIN lk CROSS JOIN hn
       |GROUP BY split_a, split_b, n_leaked_holdout, n_holdout
       |ORDER BY split_a, split_b""".stripMargin) { (s, dir) =>
    val e = scoredPairs(s, dir).filter(col("jac") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
      .materialized // pair relation read three ways below
    val splitOf = (d: org.apache.spark.sql.Column) =>
      when(substring(md5(d.cast("string")), 1, 1).isin("0", "1"), "holdout")
        .otherwise("train")
    val sp = Tables.documents(s, dir)
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
    val withSplits = e
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
    val cls = withSplits
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
    val ends = e.select(col("doc_a").as("d"), col("doc_b").as("o"))
      .unionAll(e.select(col("doc_b").as("d"), col("doc_a").as("o")))
    val lk = ends
      .join(sp.filter(col("split") === "holdout")
        .select(col("doc_id").as("d")), "d")
      .join(sp.filter(col("split") === "train")
        .select(col("doc_id").as("o")), "o")
      .select(col("d")).distinct()
      .agg(count(lit(1)).cast("long").as("n_leaked_holdout"))
    val hn = sp.filter(col("split") === "holdout")
      .agg(count(lit(1)).cast("long").as("n_holdout"))
    cls.crossJoin(broadcast(lk)).crossJoin(broadcast(hn))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_leaked_holdout"), col("n_holdout"),
        when(col("n_holdout") > 0,
          col("n_leaked_holdout").cast("double") / col("n_holdout"))
          .as("holdout_leak_rate"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** x173: the duplication spectrum — for each multiplicity k, how many
    * exact-duplicate groups have k copies, how many documents and
    * characters they hold, and how many documents dedup removes from
    * that stratum. This is the power-law plot a mix designer reads
    * before believing any dedup plan (web crawls are dominated by a
    * long k = 1 tail plus a thin stratum of pathologically-replicated
    * boilerplate — the spectrum says which, and x169/x170's savings
    * numbers decompose along it). Exact longs throughout.
    *
    * Scale shape: the x1 hash agg (the one corpus-keyed shuffle) to the
    * duplicate-group grain, then one multiplicity-grain hash agg whose
    * output is bounded by the number of DISTINCT multiplicities — a
    * few dozen rows on any real corpus. */
  val dupSpectrum = Q.withOracle(
    "x173_dup_spectrum",
    "x173: exact-duplicate multiplicity spectrum (groups/docs/chars per copy count)",
    """WITH h AS (
      |  SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS copies,
      |    CAST(SUM(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY 1)
      |SELECT copies, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(copies * COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(chars) AS BIGINT) AS chars_total,
      |  CAST((copies - 1) * COUNT(*) AS BIGINT) AS docs_removed_by_dedup
      |FROM h GROUP BY copies ORDER BY copies""".stripMargin) { (s, dir) =>
    val h = Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).cast("long").as("copies"),
        sum(col("n_chars")).cast("long").as("chars"))
    h.groupBy(col("copies"))
      .agg(count(lit(1)).cast("long").as("n_groups"),
        sum(col("chars")).cast("long").as("chars_total"))
      .select(col("copies"), col("n_groups"),
        (col("copies") * col("n_groups")).cast("long").as("n_docs"),
        col("chars_total"),
        ((col("copies") - 1) * col("n_groups")).cast("long")
          .as("docs_removed_by_dedup"))
      .orderBy(col("copies"))
  }

  val all: Seq[Q] = Seq(exact, jaccardPairs, minhash, simhash, dedupClusters,
    dedupClustersStar, nearDupSurvivors, dedupPipeline, simhashPairs, repeatedSpans,
    containmentPairs, minhashCalibration, lshTuning, dedupTransitivity,
    dedupSavings, mixDesign, mixDesignGated, splitLeakage, dupSpectrum)

  /** Hamming distance between two simhash longs (for tests / clustering). */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))
}
