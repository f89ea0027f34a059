package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe (`runMain graft.ScaleProbe [factors] [queries]`):
  * synthesizes corpora at each factor (default 1,4,10) of the sf0.1
  * tables and times the headline operators at each size, printing one
  * JSON line per (factor, query). SCALING.md records the measured curves.
  *
  * Document corpus: copy k is a BIJECTIVE token rename of the base
  * corpus (every token suffixed `_k`), so each copy is an isomorphic
  * replica in a disjoint shingle space: within-copy similarity structure
  * (planted near-dups, exact dups) is exactly the base corpus's, while
  * NO shingle, signature, or simhash collides across copies. Output
  * sizes therefore scale exactly linearly with the factor, making the
  * timing curves interpretable as THROUGHPUT scaling rather than output
  * explosion. (An earlier interleaved-marker variant instead created
  * per-copy hot shingles shared by every doc of the copy — a planted
  * quadratic join blowup; renaming avoids the trap.)
  *
  * Relational tables (events / orders / lineitem — round 5): copy k is
  * a bijective KEY SHIFT (ids offset by k·stride, join keys on both
  * sides of a join shifted by the same stride), so join multiplicities,
  * per-user as-of chains, and per-customer window extents are exactly
  * the base table's, replicated k times in disjoint key spaces. x15 /
  * w5 / j2 outputs are exactly linear in the factor; t6's is CONSTANT
  * by design (top-k per a fixed key domain — the bounded-heap scale
  * story is precisely that output does not grow). */
object ScaleProbe {

  /** Key-space stride between copies — far above any sf0.1 key. */
  private val Stride = 100000000L

  def corpus(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.documents(spark, baseDir)
    val n = base.count()
    (0 until factor).map { k =>
      // Copy 0 keeps the BASE tokens un-renamed (the corpus contains no
      // token ending in `_<digit>`, so copy 0 stays shingle-disjoint
      // from every renamed copy): term-probing retrieval ops (x33 BM25,
      // x34 RRF) then hit copy 0's documents while scanning the whole
      // scaled corpus — input grows with the factor, the probe terms
      // stay meaningful, and the top-k output stays contractually
      // bounded. A rename of copy 0 too (the round-5 shape) made every
      // copy miss the probe terms, which is why x33/x34 sat out.
      val text =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$k"))), " ")
      base.select(
          (col("doc_id") + lit(k * n)).as("doc_id"),
          text.as("text"),
          col("lang"), col("source"))
        // length of the RENAMED text: within one select the alias would
        // still resolve to the input column (each copy's tokens are 2-3
        // chars longer than the base corpus's)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
  }

  /** Scaled embeddings: copy k shifts vec_id by k·n and flips each
    * coordinate's sign by a deterministic per-(copy, coordinate) hash —
    * a diagonal ±1 orthogonal transform. Within-copy dot products (and
    * therefore every copy's near-dup/bucket structure) are preserved
    * EXACTLY (s_i² = 1, and ±x is exact in IEEE), while cross-copy
    * cosines are sign-modulated down to the random-pair distribution —
    * identical copies would instead make every vector an exact dup of
    * its f−1 siblings, planting a quadratic output blowup. Copy 0 is
    * the base table unchanged. */
  def scaledEmbeddings(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = Tables.embeddings(spark, baseDir)
    val n = base.count()
    (0 until factor).map { k =>
      val emb =
        if (k == 0) col("embedding")
        else transform(col("embedding"), (x, i) =>
          (x * (pmod(hash(lit(k), i), lit(2)) * lit(2) - lit(1))).cast("float"))
      // label rides along unchanged: sign-flips keep each copy's
      // neighborhoods within-copy, so x160's agreement structure is the
      // base corpus's in every copy
      base.select((col("vec_id") + lit(k * n)).as("vec_id"), emb.as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  private def shifted(df: DataFrame, keyCols: Seq[String], factor: Int): DataFrame =
    (0 until factor).map { k =>
      keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Stride)))
    }.reduce(_ unionByName _)

  /** The key-shifted tables and the columns each copy shifts. */
  private val ShiftedKeys = Seq(
    "events" -> Seq("event_id", "user_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    // l_orderkey shifts by the SAME stride as o_orderkey so each copy's
    // orders⋈lineitem multiplicity is exactly the base join's; l_partkey
    // shifts too (round 10) so each copy's part co-occurrence graph
    // (x59/x60) is an isomorphic DISJOINT replica — unshifted parts would
    // instead DENSIFY one shared 20k-node graph as the factor grows,
    // measuring graph-density growth rather than engine throughput. No
    // probed query joins lineitem to the part table, so the shift is
    // invisible to the rest of the board. l_suppkey shifts too (round 11,
    // same stride as s_suppkey) so x94's per-supplier interval timelines
    // are disjoint replicas rather than f×-densified merges of one shared
    // supplier space — and each copy's lineitem→supplier FK stays intact.
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    // Dim tables for the FK-audit probe (round 11 — x76 previously sat
    // out because the probe wrote no dims): every FK column and its
    // parent PK shift by the SAME stride, so each copy's star schema is
    // referentially intact in its own key space — x76's orphan counts
    // stay 0 at every factor and the wall tracks the child-side scans.
    // nation/region are 25/5-row broadcast dims; replicating them per
    // copy keeps the joins broadcastable at any factor.
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "region" -> Seq("r_regionkey"),
    // Parts for the FD-audit probe (x96): p_partkey shifts, attribute
    // columns stay — each copy re-keys the same rows, so p_partkey→p_brand
    // remains key-determined per copy and the attribute-pair violation
    // structure replicates the base table's exactly.
    "part" -> Seq("p_partkey"))

  private def shiftedTable(spark: SparkSession, baseDir: String, table: String,
      factor: Int): DataFrame =
    shifted(Tables.table(spark, baseDir, table), ShiftedKeys.toMap.apply(table), factor)

  def scaledEvents(spark: SparkSession, baseDir: String, factor: Int): DataFrame =
    shiftedTable(spark, baseDir, "events", factor)

  def scaledOrders(spark: SparkSession, baseDir: String, factor: Int): DataFrame =
    shiftedTable(spark, baseDir, "orders", factor)

  /** The factors to probe, from the first argument: a comma-separated
    * list ("1,4,10,20"; "1" is 1× alone), default 1,4,10. */
  private[graft] def factors(args: Array[String]): Seq[Int] =
    args.headOption.map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 10)).distinct

  def main(args: Array[String]): Unit = {
    // Optional 2nd arg: comma-separated query filter (fast re-probe of a
    // new entry without re-timing the whole surface; the driver-facing
    // SCALING.md is still regenerated from full runs).
    val only = args.lift(1).map(_.split(",").toSet)
    // SPARK_GRAFT_CPUS (the Bench knob) also works here — a local[16]
    // vs local[32] probe at a FIXED factor separates shuffle-saturation
    // effects from genuine work growth (the r12 x149 diagnosis).
    val spark = Session(Session.cores)
    // Expected output shapes over the scaled corpora (what SCALING.md's
    // "rows" column should do as the factor grows):
    //  - linear: x1, x9, x2, x3, x23, x16, x4, x15, w5, j2, x35, x31,
    //    x38, x32 probe (within-copy pairs replicate; cross-copy pairs
    //    are sign-decorrelated random tail)
    //  - contractually bounded (top-k / quota): t6, x33, x34, x36, x37,
    //    x39 — the scale story IS that output does not grow.
    val queries = Seq("x1_dedup_exact", "x9_token_counts", "x2_minhash_lsh_pairs",
      "x3_simhash", "x23_pack_sequences", "x16_dedup_clusters", "x4_jaccard_pairs",
      "x15_asof_join", "w5_trailing_30d_spend", "t6_topk_per_key",
      "j2_orders_lineitem_join", "x35_chunk_sliding", "x37_bigram_counts",
      // round-6 task: the x31-x39 LLM-pipeline surface
      "x31_quantize_int8", "x33_bm25_topk", "x34_rrf_fusion",
      "x36_vocab_build", "x38_oov_rate", "x39_domain_mix",
      // x25: 10-row output; round-12 SegmentedRank rewrite — per-score-
      // segment row_number (parallel) + broadcast ≤4097-row offset
      // table, no single-partition corpus sort anywhere. Wall should
      // track the one segment hash shuffle linearly
      "x25_quality_deciles",
      // x153: 64-row output always; the scatter agg (pure-map pair
      // explode → 2080-group hash agg with map-side combine) is the only
      // corpus-bound stage — the flattest full-scan shape after x74.
      // Sign-flipped copies shift the mixture's dominant direction; the
      // wall, not the loadings, is the probe axis
      "x153_pca_power",
      // x155: ≤5-row output; 16 FIXED seeds land in ~16 of the f
      // disjoint copies, so per-seed BFS work is constant — the linear
      // term is each round's frontier⋈edges shuffle of the f×-edge table
      "x155_effective_diameter",
      // x154: key-shifted customer copies DUPLICATE c_name, so deletion
      // buckets inflate ×f and cross the MaxBucket guard at f ≥ ~7 —
      // output goes (near-)empty BY THE GUARD'S DESIGN (this is the
      // pathological-duplication case it exists for); the meaningful
      // probe axis is wall, which must track the explode+agg linearly
      "x154_edit1_blocking",
      // x157: output CONSTANT (copies share the 5 types × 30 days grid,
      // counts scale by f); the only corpus stage is the daily hash agg —
      // the pair join / running min / grouped max live on the fixed
      // calendar axis. The x97 shape: wall should be flat-ish
      "x157_isotonic",
      // x158: top-20 bounded; rides the same 16-seed panel walk as x155
      // (frontier⋈edges per round on f×-edge tables) plus one node-keyed
      // hash agg — its curve should TRACK x155's, the increment ~zero
      "x158_harmonic_centrality",
      // x159: output CONSTANT (64 sample rows); selection is a
      // TakeOrdered(65) over map-side priorities — per-partition heaps,
      // no shuffle of the corpus. Flattest-possible weighted-sample shape
      "x159_priority_sample",
      // x160: output CONSTANT (64 panel rows); the md5 panel re-selects
      // across the f×-corpus, the K·N distance scan is map-side with
      // 5-row heaps — wall tracks the one embeddings scan linearly
      "x160_knn_label_agreement",
      // x161: output CONSTANT (5 types); same daily-agg + bounded-axis
      // fold shape as x139/x147 — wall rides the events scan
      "x161_conformal_interval",
      // x162: output CONSTANT (5 langs); one (lang, token) hash agg —
      // the x36 shuffle with a lang prefix. Renamed copies make every
      // copy's tokens hapax-disjoint: n_tokens/n_types/n1/n2 all scale
      // exactly f, so unseen_mass is INVARIANT across factors (a
      // correctness probe for free); wall tracks the one token agg
      "x162_good_turing",
      // x163: output ≤K rows; the cost IS x64's training (shared
      // quantizer) — the audit adds one map-side assignment, one
      // (cell, label) hash agg, and a K-row rollup. Its curve should
      // TRACK x64's with a ~zero increment
      "x163_cluster_purity",
      // x164: output CONSTANT (190 pairs — renamed copies keep the 20
      // source names, so pair keys coincide and only the counts scale);
      // wall = one (source, token) agg + a token join whose fan-out is
      // bounded by |sources|
      "x164_ruzicka_sources",
      // x165: output CONSTANT (6 configs); one signature pass (the x2
      // cost) + per-config (band, bh) hash aggs over b rows/doc — counts
      // only, never pairs, so even the r=1 mega-bucket config is a
      // census not a blowup. Wall tracks the signature pass
      "x165_lsh_tuning",
      // x166: single-row output; rides x4's pair generation (copy-local
      // pairs scale f), audit itself is degree-linear + pair-keyed joins
      // over the pair table — wall should track x4's curve
      "x166_dedup_transitivity",
      // x167: output CONSTANT (5 types × ≤7 dows — copies share the
      // calendar); the daily hash agg is the only corpus stage
      "x167_dow_profile",
      // x168: output CONSTANT (copies share the order calendar, so the
      // (cohort, age) grid coincides and only counts/pennies scale by f);
      // one customer-keyed min + one (cust, month) agg, window on the grid
      "x168_cohort_ltv",
      // x169: output CONSTANT (20 sources); the x1 hash agg + hash-keyed
      // join back + source agg. Probe-corpus note: copies are
      // content-DISJOINT (token rename), so survivors scale f and
      // per-source savings ratios are factor-invariant
      "x169_dedup_savings",
      // x170: output CONSTANT (20 sources); x169's survivor machinery +
      // the x44 acceptance over the deduped corpus, one checkpointed
      // corpus scan — expect the x169 curve plus the doc-keyed
      // survivor-source join's linear term
      "x170_mix_design",
      // x171: ≤3 class rows + certificate; rides x4's pair generation
      // (copy-local pairs scale f), split/leak joins are pair- and
      // doc-keyed — wall should track x4's curve like x166 does
      "x171_split_leakage",
      // x172: one row per ≥2-token doc (linear); x40's shape plus the
      // n1w join — one bigram agg, bounded type-table aggs, two keyed
      // joins back, per-doc ordered fold
      "x172_kneser_ney_score",
      // x70b: ≤100 rows (1 here); disjoint copies converge in the BASE
      // graph's round count (structure property — the certificate is
      // factor-invariant), so wall = rounds × the x70 per-round linear
      // edge⋈label cost + one |V|-keyed change count per round
      "x70b_lpa_converged",
      // x73b: 1 row; x73's node-centric peel run to the fixpoint —
      // disjoint replicas reach it in the base graph's round count, so
      // wall tracks x73's per-round degree agg linearly
      "x73b_kcore_converged",
      // x173: output bounded by DISTINCT multiplicities (content-disjoint
      // copies replicate the base spectrum's strata, counts scale f);
      // the x1 hash agg + one multiplicity-grain agg
      "x173_dup_spectrum",
      // x174: output CONSTANT (10 deciles × 20 sources); x25's segmented
      // rank shuffle + one grid agg — expect x25's flat-ish curve
      "x174_quality_by_source",
      // x179: output CONSTANT (2 dims × 20 queries); two x5-posture
      // panel scans over sliced vectors + the full-width exact pass —
      // wall should track ~3× the one embeddings scan, linear
      "x179_matryoshka_recall",
      // x180: one row per doc (linear); two SegmentedRank segment
      // shuffles (within-source rank, global stride rank) + a
      // |sources|-row broadcast — the x25 cost class twice
      "x180_curriculum_order",
      // x181: output CONSTANT (6 filter pairs); one scan-projected flag
      // frame + ONE keyless agg (map-side combined to a row per
      // partition) + a literal unpivot — x46's flat class
      "x181_filter_ablation",
      // x185: output CONSTANT (20 sources — renamed copies keep the
      // source names, masses scale f); one (source, tokens) hash agg is
      // the only corpus stage, the √-fold runs on the 20-row axis
      "x185_epoch_plan",
      // x182b: one row per kept train doc (linear); x182's gram join +
      // coverage explode plus a per-doc collect_set and ONE rewrite
      // map over kept docs — expect x182's curve plus a scan-speed term
      "x182b_decontam_rewrite",
      // x182c: output CONSTANT (20 sources); x182's cost folded to one
      // bounded per-source hash agg — should TRACK x182's curve
      "x182c_decontam_telemetry",
      // x186: one row per doc (linear); training cost is CONSTANT (the
      // TrainN-doc pinned sample, corpus-size-independent by design) —
      // the curve should be the one bigram explode + per-doc agg of
      // inference, the x177 cost class minus its ranking stage
      "x186_quality_classifier",
      // x186b: 1-row output; composes x186 + x177 — expect ~their sum
      "x186b_clf_vs_dsir",
      // x187: linear in the accepted set (a fixed fraction of the
      // corpus: gates/dedup/decontam keep-rates and the top-quarter +
      // √-mix rates are scale-invariant on replicated copies); the
      // composed DAG scans the corpus ONCE — its curve should undercut
      // the sum of its seven stages run separately
      "x187_pretrain_frontend",
      // x187b: output CONSTANT (20 sources); the same stage chain
      // folded to six bounded per-source aggs — should TRACK x187
      // minus the curriculum ranks
      "x187b_frontend_funnel",
      // x184: output CONSTANT (10 deciles); x180's two segmented scans
      // + one doc-keyed schedule join onto the token explode + a
      // token-keyed min agg — the x36 token-agg class over x180's cost
      "x184_curriculum_novelty",
      // x182: one row per train doc (linear); the x22 gram join at
      // position grain — copy-local grams keep the join key-skew-free,
      // the ×3 coverage explode touches only matched positions
      "x182_decontam_spans",
      // x176: one row per doc (linear); a pure scan-project (per-row
      // array expressions, no explode/shuffle/window) — should sit in
      // the x46 flattest-curve class; wall tracks the one corpus scan
      "x176_c4_quality",
      // x177: one row per doc (linear); one bigram explode feeding
      // bounded bucket aggs (≤256 rows + 1 scalar), the broadcast ratio
      // join, a (doc, bucket) agg that map-side combines to ≤256
      // rows/doc, and the SegmentedRank selection — expect the x40
      // cost class (the bigram explode dominates)
      "x177_dsir_select",
      // x175: one row per doc (linear); two explode→agg passes whose
      // shuffles are (doc, gram)-keyed — every doc's exploded rows are
      // generated from its one input row, so map-side combine collapses
      // them to per-(doc, gram) counts before the wire. Expect the
      // x9/x35 token-explode cost class, ~linear
      "x175_repetition_quality",
      // x188: one row per ≥2-token doc (linear); x172's cost (the
      // three keyed LM shuffles dominate) plus a doc-keyed lang join
      // and the SegmentedRank per-lang NTILE — expect x172's curve
      // with a near-constant offset
      "x188_ccnet_buckets",
      // x189: one row per vector (linear); x64's training cost
      // (CONSTANT Lloyd passes over the corpus) + one pure-map
      // assignment + the SegmentedRank per-cell rank — expect the x64
      // cost class, ~linear with a small rank term
      "x189_prototype_prune",
      // x190: output CONSTANT (|langs| rows); ONE (lang, token) hash
      // agg over the corpus, everything else on the bounded lang axis
      // — should sit in the x185 flattest class and TRACK its curve
      "x190_unimax_mix",
      // x191: output CONSTANT (10 pairs); the x172 + x177 + x186 signal
      // passes dominate (r16 adds the classifier's bigram explode and
      // its constant-size training), then five SegmentedRank segment
      // shuffles of the 5-signal panel and ONE keyless agg — expect
      // ~x172's curve plus x177's plus x186's plus a linear rank term
      "x191_signal_correlation",
      // x191b: output CONSTANT (10 pairs); x191's shared panel + ranks
      // verbatim, a different keyless agg — should TRACK x191's curve
      "x191b_signal_top_overlap",
      // x192: one row per 64-byte frame (linear in blob mass); a pure
      // map+explode, zero shuffles — should sit with x35/x46 in the
      // flattest scan-speed class
      "x192_frame_sample",
      // x192b: pair output stays the BASE corpus's per copy (frame
      // signatures are copy-local under the token rename, so the
      // sig-keyed self-join is copy-local and pairs scale linearly);
      // x192's explode + one sig window + the co-partitioned join
      "x192b_frame_neardup",
      // x192c: one row per doc (linear); x192b's pair cost + the CC
      // loop over the pair table only (≪ corpus) + one universe left
      // join — should TRACK x192b plus a scan-speed term
      "x192c_frame_dedup_survivors",
      // x191c: x191's panel + agg verbatim; the partials are pure
      // arithmetic on the 1-row agg — should read AS x191's curve
      "x191c_partial_spearman",
      // x193: one row per ≥3-token doc (linear); one (gram) hash agg
      // over the trigram explode + one gram-keyed join back + one
      // (doc) agg of exact longs — x71's cost class
      "x193_soft_dedup",
      // x170b: x170's curve exactly (same one-scan composed DAG; the
      // dup-line gate is a per-row array expression inside the md5
      // projection — zero added shuffles, zero extra scans)
      "x170b_mix_design_gated",
      // x40: linear output (one row per ≥2-token doc); wall tracks the
      // three keyed shuffles (bigram counts, prob lookup, per-doc regroup)
      "x40_bigram_lm_score",
      // x42: one row per doc (linear); repeated grams stay within a copy
      // (disjoint shingle spaces), so the coverage join is copy-local
      "x42_repeated_spans",
      // x43: one row per doc (linear); block contents are copy-local
      // (disjoint token spaces), so each copy's keep-first structure is
      // the base corpus's and the content-key shuffle has no hot keys
      "x43_block_dedup_rewrite",
      // x43b: one row per doc (linear); x42's gram-keyed window plan
      // plus the (doc, position) distinct and the reconstruction map —
      // grams are copy-local, so the span structure replicates and the
      // drop volume scales exactly by f; expect x42's curve plus a
      // scan-speed rebuild term
      "x43b_span_dedup_rewrite",
      // x44: one row per doc (linear); per-lang counts scale by f, so
      // the min/count ratios — and every keep rate — are EXACTLY the
      // base corpus's at any factor
      "x44_lang_temp_resample",
      // x45: bounded output (Merges rows); the corpus-scale stage is
      // the one word-freq agg — the merge loop runs over the distinct-
      // word table, which grows by f (disjoint per-copy vocabularies)
      // but stays corpus-size-independent
      "x45_bpe_merges",
      // x45b: one row per doc (linear); adds the broadcast vocab
      // lookup + per-doc regroup on top of x45's training cost
      "x45b_bpe_encode",
      // x178: output CONSTANT (5 langs — renamed copies keep the lang
      // column); x45b's cost exactly, with the per-doc regroup replaced
      // by a 5-row lang agg — its curve should TRACK x45b's
      "x178_fertility_by_lang",
      // x46: pure map (3 regex passes fused into the scan) — the
      // flattest curve on the board is the design claim
      "x46_pii_redact",
      // x47: two constant-state all-to-one aggregates + map-side flag;
      // linear output (one row per vector), zero corpus shuffles
      "x47_embedding_outliers",
      // x48: one row per doc (linear); the x16 cluster frame it composes
      // is copy-local (disjoint shingle spaces), so the min-per-cluster
      // agg and the two doc-keyed joins back ride x16's linear curve
      "x48_near_dup_survivors",
      // x49: one row per doc (linear); the composed DAG scans the corpus
      // once and checkpoints the shingle + edge tables, so its curve
      // should undercut the sum of its parts (x4 + x16 + x48 re-derive
      // those tables from separate corpus scans)
      "x49_dedup_pipeline",
      // x50: top-k bounded output; the scale claim is the ADC scan -
      // codes (N x M ints) with literal-LUT distances, shortlist via
      // bounded heaps, refine touching ReRank rows per query
      "x50_pq_ann_topk",
      // x51: top-k bounded output; coarse cells route the ADC scan to
      // ~NProbe/K of the code table, so its curve should UNDERCUT x50's
      // as the factor grows (the routed scan is the whole point)
      "x51_ivfpq_ann_topk",
      // x52: contractually bounded output (one row per event_type); the
      // mean-based hot threshold is scale-invariant, so the hot set and
      // the salted fan-out replicate per copy - wall should track the
      // one fact-side shuffled join linearly
      "x52_salted_skew_join",
      // x54: candidate shuffle bounded at k rows/partition whatever the
      // corpus; recount agg keyed by candidates only. Output note: token
      // renaming splits the corpus mass f ways, so a copy's token stays
      // heavy iff base_freq >= f/500 - the measured corpus's heavies sit
      // >= 2%, so rows scale f x 30 through factor 10 (wall stays flat,
      // which is the claim)
      "x54_heavy_hitters",
      // x56: bounded output (one row per column); one file scan through
      // the multi-distinct Expand - wall tracks the scan linearly
      "x56_profile_columns",
      // x57: bounded output (one row per stage); one user-keyed agg,
      // per-copy user spaces disjoint so fold lists replicate exactly
      "x57_funnel_stages",
      // x58: output rows CONSTANT (copies share calendar weeks, so grid
      // keys coincide and only the counts scale by f); wall tracks the
      // one user-keyed agg linearly
      "x58_cohort_retention",
      // x59: top-100 bounded output; per-copy graphs are disjoint
      // isomorphic replicas (l_partkey shifted), so every round's
      // edge⋈rank join and dst agg carry exactly f× the base edges
      "x59_pagerank",
      // x60: single-row output; disjoint replicas make wedge work
      // exactly f× the base graph's — the √m fan-out bound holds
      // per copy, so the closure join stays linear in the factor
      "x60_triangle_count",
      // x60b: single-row output; the DOULION p=1/4 hash-sample thins
      // the dedup shuffle to ~p of the pairs, wedge join rows to ~p²,
      // and surviving triangles to ~p³ — wall should sit well under
      // x60's at every factor, with the gap WIDENING as wedge work
      // comes to dominate (the scale tier for the one inherently
      // wedge-linear row)
      "x60b_triangle_doulion",
      // x61: top-100 bounded output; basket self-join fan-out is
      // per-order bounded, supports replicate per copy
      "x61_association_rules",
      // x62: output rows CONSTANT (copies share the 5 event types);
      // wall tracks the one user-keyed window linearly
      "x62_markov_transitions",
      // x63: ≤4-row histogram; the key-shifted copies seed at ~1%
      // each (stride % 97 ≠ 0 re-draws which parts seed, same density),
      // frontier joins stay copy-local
      "x63_bfs_hops",
      // x64: bounded output (≤ K·dim model rows at ANY corpus size);
      // each Lloyd pass is a pure-map literal argmin + one K·dim-cell
      // agg, so wall tracks the per-pass vector scan linearly
      "x64_kmeans_train",
      // x65: one row per user (linear — per-copy user spaces are
      // disjoint); wall tracks the one user-keyed fold agg
      "x65_ewma_surprise",
      // x66: output rows CONSTANT (copies share the 5 event types);
      // sketch state is ≤ k longs per (partition, type) whatever the
      // user count — flat wall is the claim; n_exact's COUNT(DISTINCT)
      // is the QA column a production run drops
      "x66_kmv_distinct",
      // x67: output rows CONSTANT (copies share calendar weeks and
      // the 5 types — the spine is the same grid, only counts scale);
      // wall tracks the one (type, week) agg linearly
      "x67_gapfill_weekly",
      // x68: 4-row rollup; the full-outer key join carries f× rows
      // per copy in disjoint key spaces — wall should track the one
      // co-partitioned shuffle linearly
      "x68_snapshot_diff",
      // x69: ≤256-row stats; pure-map z computation + bucket agg —
      // wall tracks the orders scan linearly (key-shifted copies widen
      // the ck domain, the scale normalization absorbs it)
      "x69_zorder_stats",
      // x70: top-100 bounded output; per-copy graphs are disjoint, so
      // each round's edge⋈label join and the packed-min agg carry
      // exactly f× the base edges
      "x70_label_propagation",
      // x71: one row per doc (linear); gram spaces are copy-disjoint so
      // ownership windows are copy-local
      "x71_gram_novelty",
      // x72: renamed copies KEEP their source tags, so the matrix stays
      // C(20,2) rows while each source's distinct-gram set grows f×
      "x72_source_overlap",
      // x73: 4-row output; each round's degree agg + semi-joins carry
      // f× the base edges, shrinking monotonically within each copy
      "x73_kcore_peel",
      // x74: 64-row output at any size; pure-map hash + one 64-cell
      // agg — the flattest possible full-scan shape
      "x74_table_checksum",
      // x75: top-25 bounded output; per-copy user spaces disjoint so
      // sequences replicate, path counts scale by f
      "x75_top_paths",
      // x76: 5-row output (one per declared relation) at any factor;
      // five LEFT ANTI joins — lineitem→orders and orders→customer are
      // the linear terms, the nation/region parents stay broadcast
      // dims; orphan counts are 0 by the consistent key shift, so the
      // wall measures pure audit cost, not orphan fan-out
      "x76_fk_orphans",
      // x77: 5-row output; one high-water scalar + one type-grain agg
      "x77_freshness",
      // x78: 5-row output (copies share the 5 event types); duplicated
      // point sets leave the OLS fit itself unchanged — wall tracks the
      // single exact-sum hash agg linearly
      "x78_group_regression",
      // x79: 5-row output; customer keys shift so every copy's LEAD
      // window is copy-local — wall tracks the one custkey shuffle +
      // priority agg
      "x79_time_weighted_price",
      // x80: output bounded by the shared |qty|×|disc| grid at any
      // factor; one scan + cell agg + constant-size dominance anti-join
      // — the flattest possible shape after x74
      "x80_skyline_offers",
      // x81: top-100 bounded output; part keys shift so each copy's
      // weighted graph is a disjoint isomorphic replica — per round one
      // frontier⋈edges join + min agg carries f× the base edges
      "x81_sssp_weighted",
      // x82: top-20 bounded output; copy-k token renames grow the vocab
      // ~f× while the counter grid stays d×W — wall tracks the token
      // explode + vocab agg, the same shuffle any vocabulary pass pays
      "x82_cms_freq",
      // x83: one row per user (linear — user ids shift per copy, so
      // per-user lists replicate at base length); wall tracks the one
      // user-keyed shuffle + per-list fold, the x65 shape
      "x83_debounce",
      // x80b: skyline-sized output (copies share the price/date
      // domains); distinct-price agg + segmented sweep — the global
      // window stays bucket-table-sized at every factor
      "x80b_skyline_sweep",
      // x84: 5-row output (copies share the 5 types); two percentile
      // aggs + one broadcast equi-join — wall tracks the two scans
      "x84_mad_outliers",
      // x85: 1-row output; key shifts keep the per-copy join structure
      // so the exact join grows f× and the grids stay 3×2^16 — wall
      // tracks the two grid aggs + the exact-join QA column
      "x85_cms_join_size",
      // x86: 3-row output; 3/4 of rows drop map-side before any
      // shuffle — the percentile agg sees only the sample at every
      // factor, which is the whole point of the tier
      "x86_sampled_quantiles",
      // x87: top-20 bounded output; pure map + TakeOrdered — renamed
      // copies miss the probe phrase, so hits stay copy-0-bounded
      // while the scan covers the whole scaled corpus (the x33 regime)
      "x87_phrase_search",
      // x88: 20-row output (one per query); the composition of x5+x12
      // (both individually probed) + a metadata-sized join — sign-
      // flipped copies keep within-copy structure so recall stays
      // meaningful at every factor
      "x88_ann_recall",
      // x89: top-20 bounded; copy-renamed tokens replicate the base
      // corpus's pair structure in disjoint vocabularies — wall rides
      // the two gram aggs
      "x89_collocation_lift",
      // x90: 9-row output always; one scan + 9-cell agg — x74's shape
      "x90_benford_digits",
      // x91: top-20 bounded; 1-row high-water broadcast + one part agg
      // over exact dyadic longs
      "x91_decayed_popularity",
      // x92: 3-row output; one flag-grain window (the a17 sort any
      // exact order statistic pays) — wall tracks the sorted scan
      "x92_weighted_median",
      // x93: output is |types| rows at every factor; shifted user ids
      // grow the word table f× but map-side bit_or still collapses
      // before the shuffle — wall should ride the one events scan
      "x93_bitmap_distinct",
      // x94: top-20 bounded; l_suppkey shifts with the copies, so each
      // copy's island structure is a disjoint replica — one suppkey
      // shuffle + two stacked windows, linear per-key scans
      "x94_interval_coverage",
      // x95: |segments| rows always; ranks are segmented (value windows
      // per spend-bucket), so the rank stage parallelizes with the
      // corpus — wall rides the orders agg + customer join
      "x95_gini_spend",
      // x96: 5 rows always; per-candidate two-phase distinct aggs over
      // replicated star copies — the x76 bounded-audit shape
      "x96_fd_audit",
      // x97: |types| rows; the only full-data shuffle is the weekly
      // hash agg — the windows run on the |types|×|weeks| grain, which
      // the key-shift probe leaves constant
      "x97_cusum_changepoint",
      // x98: |types|²/2 rows always; sketch state is ≤k longs per type
      // per partition — the exact-overlap QA join is the only term that
      // grows, and shifted user ids keep the true overlaps at 0 between
      // copies (within-copy overlaps replicate)
      "x98_kmv_intersect",
      // x99: top-20 bounded; the x60 wedge regime + one triangle-stream
      // explode — expect x60's linear-in-wedges curve, the honest cost
      // of exact per-node counts (x60b is the sampled tier)
      "x99_clustering_coeff",
      // x99b: top-20 bounded; x99's scale tier — full-edge degree agg
      // (linear, unavoidable: true denominators) + the closure join on
      // the p=1/4 sampled graph (~p² of x99's wedge rows). Expect wall
      // well under x99's at every factor, gap widening as wedges
      // dominate
      "x99b_clustering_doulion",
      // x100: |types| rows; one (type, value)-grain agg is the only
      // full-data shuffle, then segmented windows — the x92/x95 shape
      "x100_ks_drift",
      // x101: |langs| rows; two bounded hash aggs over the doc corpus
      "x101_simpson_diversity",
      // x102: 1 row; two node-keyed degree joins + one keyless 4-sum
      // agg — expect the linear-in-edges x59 regime without rounds
      "x102_assortativity",
      // x103: 1 row; one (seg, nat) hash agg, then everything runs on
      // the R×C grid — the key-shift probe replicates nations per copy
      // so the grid grows f× on one axis while the fold stays tiny
      "x103_chi2_independence",
      // x104: top-20 bounded; fingerprint selection is a pure map
      // (codegen'd Winnow3), the pair join is fp-keyed with the max-df
      // hot-key bound — renamed copies keep fingerprints copy-local,
      // so candidate pairs replicate, never cross copies
      "x104_winnow_pairs",
      // x105: 5 rows always; per-key two-level count profiles — the
      // key-shifted copies replicate per-key multiplicities exactly
      "x105_skew_audit",
      // x106: |types|×|weeks| rows (constant under key shift); one
      // weekly hash agg then windows on the aggregated axis — x97's
      // shape with a trailing frame
      "x106_rolling_slope",
      // x107: |types| rows; one user-keyed window (timelines replicate
      // per copy under the user shift) + one bounded hash agg
      "x107_dwell_time",
      // x108: |types| rows; the x100 shape exactly — one (type, value)
      // hash agg + segmented prefix scan; the even key-shift stride
      // preserves user-id parity, so cohorts replicate per copy
      "x108_mann_whitney",
      // x109: |types|×4 rows (constant); one weekly hash agg, then the
      // lag self-join runs on the aggregated calendar axis
      "x109_weekly_acf",
      // x110: top-20 bounded; wedges only through ≤96-degree centers —
      // part copies are key-disjoint so qualifying centers (and their
      // bounded fan-out) replicate per copy: expect linear wedge work
      "x110_link_predict",
      // x111: 32 rows always; one segment hash shuffle + per-segment
      // row_number — ranks grow f× but every segment stays parallel
      "x111_range_plan",
      // x112: |types|+1 rows; one user-keyed window + bounded agg —
      // the x107 shape with a LAG instead of a LEAD
      "x112_last_touch",
      // x113: 6 rows always; one lineitem hash agg + one orderkey
      // equi-join (FK preserved by the consistent key shift)
      "x113_order_recon",
      // x114: ≤125 rows; one orders hash agg + three segmented-rank
      // passes over the per-customer table (grows f×, stays parallel)
      "x114_rfm_segments",
      // x115/x116: one Expand + hash agg each; x115's nation axis grows
      // f× (key-shifted dims) but stays dim-sized; x116's grouping keys
      // are unshifted strings — 24 rows at every factor
      "x115_rollup_revenue",
      "x116_cube_orders",
      // x117: 1 row; orders hash agg + two segmented-rank passes — the
      // x114 regime with a keyless 1-row finale
      "x117_spearman_freq_spend",
      // x118: ≤50 rows; 2·rounds keyed joins over a once-checkpointed
      // edge list that grows f× in disjoint (s, p) key spaces — expect
      // linear-in-edges wall, the x59 shape without the damping agg
      "x118_hits",
      // x119: top-20 bounded; the 9-probe cell equi-join's candidate
      // volume is ~9·n·occupancy and occupancy grows f× at a FIXED grid
      // — the documented production lever is cells ∝ n; the probe holds
      // the grid fixed, so expect superlinear candidate growth from a
      // tiny base (0.24/cell at 1×)
      "x119_grid_closest_pairs",
      // x120: pairs replicate per copy (bijective token rename preserves
      // Jaccard and the block/sort order within each copy) — linear
      // candidates, linear output
      "x120_snm_pairs",
      // x121: |types|×|weeks| rows (constant — event_type strings and
      // the calendar don't shift); the (type, week, user) dedup agg is
      // the only full-data shuffle, the 4-way explode runs on its
      // output
      "x121_trailing_distinct_users",
      // x122: 25 rows (name-keyed groups collapse across shifted dim
      // copies, the x115 story); windows run on the dim-sized agg
      "x122_contribution_shares",
      // x123: two SNM passes + one scoring stage — expect ~2× x120's
      // wall with the same linear candidate/output growth
      "x123_snm_multipass",
      // x124: 1 row; the two pair joins touch O(n·B) pairs (B fixed at
      // 1024 → linear in customers), the densified grid is (n/B)²
      // cells — 147² at 10×, trivial; expect linear-ish wall
      "x124_kendall_tau",
      // x125: 15 rows (segments × 3 quartiles); the x95 ranked-spend
      // plumbing + a 6-rows-per-segment broadcast probe join — flat
      "x125_exact_quartiles",
      // x126: 5 rows; one orders agg + one segment agg, no windows
      "x126_hhi_spend",
      // x127: top-20 bounded; 2E staircase events through one
      // supplier-keyed sort window — the x94 regime (disjoint supplier
      // replicas keep per-key scans base-length)
      "x127_peak_concurrency",
      // x128: 5 rows; one (segment, priority) count grid with map-side
      // combine, winner picked over the dim-sized grid
      "x128_mode_priority",
      // x129: |weeks| rows (calendar constant); one (week, customer)
      // hash agg + one customer-week equi-join of pre-aggregated sides
      "x129_comp_sales",
      // x130: 3 rows; one user-keyed agg + segmented rank over µs
      // buckets + a 6-row broadcast probe join — the x125 regime on
      // the events table
      "x130_conversion_latency",
      // x131: 15 rows; the x95 ranked plumbing + a segmented running
      // sum (same bucket windows) + dim-bounded class agg
      "x131_abc_classes",
      // x132: 17 rows always; one token hash agg + a CONSTANT-bound
      // top-2^16 TakeOrdered — renamed copies grow the vocab 10× but
      // the curve reads a fixed-size table; coverage drops per copy
      // (each copy's types split the occurrence mass) without changing
      // the plan's work shape beyond the count agg
      "x132_vocab_coverage",
      // x133: rows grow ~C(f,2)·families BY CORPUS CONSTRUCTION — the
      // token rename is shingle-disjoint but byte-4-gram-NEAR: copy k
      // of a doc IS a byte-level near-duplicate of copy j, and the
      // perceptual hash correctly pairs every twin family. Wall stays
      // flat: the band join shuffles 4 small rows per blob, blobs
      // never shuffle
      "x133_image_phash_dedup",
      // x134: the x4 shingle-join shape exactly (shingle spaces stay
      // copy-disjoint) with a different final predicate — linear pairs
      "x134_containment_pairs",
      // x135: 3 rows always; the quasi-id grid grows f× on the shifted
      // nation axis but stays grid-sized; one customer hash agg
      "x135_kanonymity",
      // x183: 3 rows always; x135's shape with a countDistinct Expand —
      // shifted-nation copies replicate the quasi-id grid f×, the l
      // rollup runs on the grid
      "x183_l_diversity",
      // x136: ≤|days| rows (calendar constant); one user-keyed hash agg
      // is the only full-data pass, the KM fold runs on the tiny axis
      "x136_km_survival",
      // x137: top-20 bounded; one part-keyed window sort (disjoint part
      // replicas keep per-key timelines base-length) + part hash agg
      "x137_reflected_stock",
      // x138: 1 row; one user-keyed agg + one constant-state global agg
      "x138_cuped_ab",
      // x139: 5 rows (event_type strings don't shift — copies merge into
      // the same per-type daily axis, y grows f× but |axis| is calendar)
      "x139_holt_forecast",
      // x140: top-20 bounded; o_custkey AND l_partkey both shift, so
      // each copy's basket graph is a disjoint replica — candidate pairs
      // grow linearly (per-part fan-out ≤ C(64,2) by the degree cap)
      "x140_basket_jaccard",
      // x141: |weeks| rows (ship calendar doesn't shift — copies merge
      // into the same weekly axis); one weekly hash agg rides the scan
      "x141_pchart_returns",
      // x142: 1 row; priority strings don't shift — the 5-row group
      // table absorbs f× rows in one map-side-combined agg
      "x142_anova_priority",
      // x143: rides x2's signature/band cost (disjoint shingle spaces →
      // candidates replicate per copy, linear); output stays a handful
      // of error-band rows
      "x143_minhash_calibration",
      // x144: 1 row; one scan with a constant 64-column agg state, all
      // ranking on the 32-row replicate frame
      "x144_subagging_ci",
      // x145: 5 rows; one stratum-keyed rank window (per-copy order keys
      // shift but priorities don't — strata absorb f× rows, the window
      // stays parallel across the f× key range)
      "x145_ht_stratified_total",
      // x146: 5 rows; one (priority, week) hash agg — the only full-data
      // shuffle — then windows over the constant calendar axis
      "x146_max_drawdown",
      // x147: 5 rows; the x139 regime with a wider fold accumulator
      "x147_holt_backtest",
      // x148: top-100 bounded; the x59 regime (checkpointed disjoint
      // edge replicas, per-round keyed join + agg) with a seed-masked
      // teleport — expect x59's linear-in-edges curve
      "x148_personalized_pagerank",
      // x149: 1 row; the x70 rounds plus two label-keyed joins and a
      // degree join — expect the x70 curve plus edge-join noise
      "x149_lpa_modularity",
      // x150: 1 row; one user-keyed fold with O(1) state — the x57 shape
      "x150_pattern_negation",
      // x151: 5 rows; one daily hash agg, the pair join and rank run on
      // the constant calendar axis
      "x151_theil_sen",
      // x152: |types|×|days| rows (constant); one daily hash agg, order
      // statistics on ≤7-element arrays over the calendar axis
      "x152_hampel_outliers")
    // Probe-only variants that are not registry entries: the registered
    // x32 is windowed to vec_id < 500 (so its oracle can compare against
    // exact all-pairs x14) — timing that window at growing corpus sizes
    // would time constant work. The probe runs the UNBOUNDED pipeline
    // with bucket bits raised as log2(N/32): constant target occupancy
    // ~32, the lever a real deployment turns.
    // Memoized per dir: the count that sizes `bits` runs once on the
    // warmup invocation — a per-call count would ride inside the TIMED
    // run and contaminate the very linearity the probe measures.
    val bitsCache = scala.collection.mutable.Map.empty[String, Int]
    val kCache = scala.collection.mutable.Map.empty[String, Int]
    val probeOnly: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "x32_lsh_dedup_scaled" -> ((s, dir) => {
        val e = Tables.embeddings(s, dir)
        val bits = bitsCache.getOrElseUpdate(dir, {
          val n = math.max(e.count(), 1L)
          math.max(4, math.ceil(math.log(n / 32.0) / math.log(2)).toInt)
        })
        graft.ext.Similarity.lshDedupScaled(e, bits)
      }),
      // The registered x41 pins K=10 for its DuckDB-replayed oracle;
      // timing THAT at growing N would plant the quadratic its scaladoc
      // warns about (fixed cell count → cell population grows with N).
      // The probe turns the documented lever instead: CONSTANT TARGET
      // OCCUPANCY, K = ⌈N/c⌉ (round 8 — the ⌈√N⌉ rule let occupancy
      // grow as √N and candidate pairs as N^1.5; measured 4.1× wall at
      // 10×, the worst curve on the board). Candidates are now
      // ~ NProbe²·c·N/2 — linear — and cellBitsFor routes through the
      // requireCellBits ≤ 14 overflow guard, so a probe too big for the
      // packed argmin fails loud instead of silently corrupting cells.
      "x41_semdedup_scaled" -> ((s, dir) => {
        val e = Tables.embeddings(s, dir)
        val k = kCache.getOrElseUpdate(dir,
          graft.ext.SemDedup.cellsFor(math.max(e.count(), 1L)))
        graft.ext.SemDedup.pipeline(e, k, graft.ext.SemDedup.cellBitsFor(k))
      }),
      // The registered x53 pins m = 2^22 for its oracle; at 10× the
      // holdout's gram set saturates a fixed filter (FP → 1) — a real
      // deployment sizes m to the holdout (~10 bits/gram). The probe
      // turns that lever: m = next power of two ≥ 16 × holdout docs'
      // grams-per-doc estimate, memoized on the warmup invocation.
      // x104 diagnosis row (round 12): candidate-pair volume vs factor.
      // Fingerprints are copy-disjoint under the token rename (md5 gram
      // hashes), so candidates should be LINEAR in f; a superlinear wall
      // with linear candidates indicts shuffle/memory pressure, not the
      // plan.
      "x104_cand_probe" -> ((s, dir) => graft.ext.Winnowing.candidateStats(s, dir)),
      "x53_bloom_scaled" -> ((s, dir) => {
        val d = Tables.documents(s, dir)
        val m = kCache.getOrElseUpdate(dir + "#bloom", {
          val holdoutDocs = d.filter(
            substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")).count()
          // ~430 distinct 3-grams/doc on this corpus; 10 bits per gram
          val want = math.max(1L << 20, holdoutDocs * 430L * 10L)
          java.lang.Long.highestOneBit(want - 1) * 2
        }.toInt)
        graft.ext.Bloom.pipeline(d, m)
      }))
    val base = "/root/testdata/sf0.1"
    factors(args).foreach { f =>
      val dir = s"/tmp/graft-scale-$f"
      (Seq("documents" -> corpus(spark, base, f),
          "embeddings" -> scaledEmbeddings(spark, base, f)) ++
        ShiftedKeys.map { case (t, _) => t -> shiftedTable(spark, base, t, f) })
        .foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$dir/$t.parquet") }
      (queries ++ probeOnly.keys.toSeq.sorted)
        .filter(q => only.forall(_.contains(q))).foreach { q =>
        val fn = probeOnly.getOrElse(q, SparkEntry.queries(q))
        // The timed unit is Bench's (construction plus one noop write),
        // between Bench's resets; the row count runs outside the timer.
        Bench.sink(fn(spark, dir)) // warm
        Bench.reset(spark)
        val sec = Bench.timed(spark, dir, fn)
        val rows = fn(spark, dir).count()
        Bench.reset(spark)
        println(s"""{"probe":"scale","factor":$f,"query":"$q","sec":${Bench.fmt(sec)},"rows":$rows}""")
      }
    }
    spark.stop()
  }
}
