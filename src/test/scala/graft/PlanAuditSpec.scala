package graft

/** Global plan audit over every registered query: no accidental cartesian
  * products, no disabled codegen — the whole-registry version of the
  * per-query assertions in PlanSpec. Intended (broadcast) cross joins
  * compile to BroadcastNestedLoopJoin, which is allowed for the queries
  * that declare them. The audits share one build per query: building
  * runs a query's eager checkpoint jobs, so each query is built once into
  * an [[Audit]] record and every registry-wide audit filters that record. */
class PlanAuditSpec extends SparkSuite {

  // queries that intentionally cross-join a broadcast scalar/query set
  private val broadcastCrossOk = Set(
    "a7_latest_week_volume", "a9_stale_customers", "p6_latest_week_rows",
    "x5_cosine_topk", "x6_ann_lsh_topk", "x12_ivf_ann_topk",
    "x51_ivfpq_ann_topk", // x12's probe selection: broadcast cross join over the K-row centroid table
    "x14_embedding_dedup", // non-equi (id<id) pair join over a bounded set
    "x18_tfidf_topterm",   // broadcast of the 1-row corpus-size aggregate
    "x25b_quality_deciles_approx", // broadcast of the 1-row boundary sketch
    "x33_bm25_topk",               // broadcast of the 1-row corpus stats (N, sum dl)
    "x40_bigram_lm_score",         // broadcast of the 1-row vocab-size scalar
    "x44_lang_temp_resample",      // broadcast of the 1-row min-lang-count scalar
    "x45_bpe_merges",              // per-round broadcast of the 1-row argmax pair
    "x45b_bpe_encode",             // same training loop + broadcast vocab lookup
    "x47_embedding_outliers",      // 1-row centroid + 1-row mean-dist broadcasts
    "x52_salted_skew_join",        // broadcast of the 1-row hot-threshold scalar
    "x54_heavy_hitters",           // broadcast of the 1-row total-token scalar
    "x60_triangle_count",          // three 1-row scalars (nodes/edges/triangles) composed by cross join
    "x60b_triangle_doulion",       // two 1-row scalars (sampled edges/triangles) composed by cross join
    "x61_association_rules",       // broadcast of the 1-row basket-count scalar
    "x67_gapfill_weekly",          // broadcast of the 1-row calendar-bounds scalar into the spine
    "x69_zorder_stats",            // broadcast of the 1-row dimension-bounds scalar
    "x77_freshness",               // broadcast of the 1-row high-water-mark scalar
    "x80_skyline_offers",          // bounded non-equi dominance anti-join over ≤550 grid-cell winners
    "x85_cms_join_size",           // two 1-row scalars (estimate, exact count) composed by cross join
    "x88_ann_recall",              // composes x5 (declared broadcast query-set cross join) + x12
    "x89_collocation_lift",        // two 1-row totals (unigram/bigram N) composed by cross join
    "x90_benford_digits",          // broadcast of the 1-row total-count scalar
    "x91_decayed_popularity",      // broadcast of the 1-row high-water-date scalar
    "x98_kmv_intersect",           // non-equi (type<type) pair join over the |types|-row sketch table
    "x102_assortativity",          // two 1-row moment scalars (node + cross) composed by cross join
    "x103_chi2_independence",      // R×C grid from two broadcast dimension-total tables + 1-row n
    "x109_weekly_acf",             // broadcast of the 4-row literal lag dimension
    "x153_pca_power",              // 1-row scalars (n, rescalers, Rayleigh, trace) into ≤64-row frames
    "x155_effective_diameter",     // broadcast of the 1-row d90 scalar onto the ≤5-row hop axis
    "x114_rfm_segments",           // two 1-row scalars (high-water date, customer count)
    "x121_trailing_distinct_users", // broadcast of the 1-row high-water-week scalar
    "x124_kendall_tau",            // axis-densification of the (n/B)² count grid from two 1-row max scalars, plus three 1-row inversion-term scalars composed by cross join
    "x132_vocab_coverage",         // broadcast of the 1-row total-occurrences scalar
    "x138_cuped_ab",               // broadcast of the 1-row midpoint-date scalar into the scan
    "x141_pchart_returns",         // broadcast of the 1-row pooled-rate scalar onto the weekly axis
    "x142_anova_priority",         // 1-row fold ⨯ 1-row totals composed by cross join
    "x149_lpa_modularity",         // broadcast of the 1-row edge-count scalar onto the |labels|-row terms
    "x156_ann_ap",                 // inherits x5's broadcast query-panel cross join through composition
    "x159_priority_sample",        // broadcast of the 1-row threshold scalar onto the 64-row sample
    "x160_knn_label_agreement",    // broadcast of the 64-row query panel into the streaming corpus scan
    "x166_dedup_transitivity",     // two 1-row count scalars (edges, triangles) composed onto the 1-row wedge agg
    "x154_edit1_blocking",         // broadcast of the 1-row guard-drop certificate onto the top-50
    "x170_mix_design",             // 1-row nmin scalar into the rate table + 1-row resampled-total scalar onto the |sources| rows
    "x170b_mix_design_gated",      // same two 1-row scalars as x170 (nmin into rates, resampled total onto |sources| rows)
    "x171_split_leakage",          // two 1-row leak/holdout scalars onto the ≤3-row class agg
    "x172_kneser_ney_score",       // broadcast of the 1-row bigram-type-count scalar (x40's posture)
    "x188_ccnet_buckets",          // inherits x172's 1-row type-count broadcast through composition (x88's pattern)
    "x177_dsir_select",            // broadcast of the 1-row occurrence-totals scalar into the ≤256-row ratio table
    "x186b_clf_vs_dsir",           // inherits x177's 1-row totals broadcast through composition (x88's pattern)
    "x187_pretrain_frontend",      // composed DAG: x177's 1-row totals + x44's 1-row min-lang scalar, both declared in their own operators
    "x187b_frontend_funnel",       // same two inherited 1-row scalars (shared stage chain with x187)
    "x179_matryoshka_recall",      // x5's broadcast query-panel cross join per dim + the 2-row dim axis onto the 100-row exact table
    "x184_curriculum_novelty",     // broadcast of the 1-row schedule-length scalar onto the token explode
    "x185_epoch_plan",             // broadcast of the 1-row (√-mass denominator, total) scalar onto the |sources| rows
    "x190_unimax_mix",             // broadcast LEFT join of the 1-row first-uncapped-share scalar onto the |langs| rows (constant key folds to BNLJ)
    "x191_signal_correlation",     // inherits x172's type-count and x177's totals 1-row broadcasts through composition (x88's pattern)
    "x191b_signal_top_overlap",    // same shared ranked panel as x191 - same two inherited 1-row broadcasts
    "x191c_partial_spearman",      // same shared ranked panel as x191 - same two inherited 1-row broadcasts
    "x193_soft_dedup",             // broadcast of the 1-row min-commonness scalar onto the per-doc frame

    "hr7_hospitals_not_reporting") // broadcast of the 1-row latest-week scalar

  test("registry is well-formed: unique names, oracles only for registered queries") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  // SortAggregate is the silent fallback Spark takes when an aggregation
  // buffer type is immutable (e.g. min/max over a struct) — at scale that
  // is a full sort of the input on both sides of the shuffle where a hash
  // aggregate streams. Any query that genuinely needs one must be listed
  // here with a reason.
  private val sortAggOk = Set(
    // x56: GLOBAL (keyless) aggregate whose min/max(string) buffers are
    // immutable, so Spark picks SortAggregate — with no grouping keys
    // there is nothing to sort and the cost equals a hash aggregate;
    // the rule exists for KEYED aggregations, where the sort dominates.
    "x56_profile_columns")

  import org.apache.spark.sql.catalyst.plans.logical._

  /** What the audits below read of one registry query, taken from a single
    * build. Strings and booleans only: holding the DataFrame or its
    * QueryExecution would pin every query's checkpoint blocks at once. */
  private case class Audit(name: String, executed: String,
                           unboundedHint: Boolean, unpartitionedWindow: Boolean)

  // A forced broadcast of a table that grows with scale factor (customer
  // is 15M rows / ~1.7 GB at sf100) OOMs executors at 100x instead of
  // letting AQE pick sort-merge vs runtime broadcast. Rule: a hint whose
  // subtree scans an SF-scaling table must contain SOMETHING that bounds
  // cardinality (limit, aggregate, distinct, sample, or at minimum a
  // filter — the bare-whole-table hint is the defect class). Bounded
  // dims (nation=25, region=5) may be hinted freely.
  private val bigTables = Seq("customer", "orders", "lineitem", "part", "supplier",
    "documents", "embeddings", "events").map(t => s"$t.parquet")
  private def unboundedHint(analyzed: LogicalPlan): Boolean =
    analyzed.collect { case h: ResolvedHint => h }.exists { h =>
      val scansBig = h.child.collectLeaves()
        .exists(l => bigTables.exists(l.toString.contains))
      val bounding = h.child.collect {
        case p @ (_: Aggregate | _: GlobalLimit | _: LocalLimit |
                  _: Deduplicate | _: Sample | _: Filter) => p
      }
      scansBig && bounding.isEmpty
    }

  // A `Window.orderBy(...)` with no partitionBy is planned as a
  // SINGLE-PARTITION window: every input row funnels through one
  // reducer for a global sort — the one shape that cannot survive a
  // 100× scale-up. Registry-wide rule (round 12, after x25 moved to
  // the SegmentedRank machinery): an unpartitioned Window is legal
  // ONLY over a bounded axis, witnessed STRUCTURALLY by a bounding
  // operator (Aggregate / limit / Deduplicate / Sample) somewhere
  // below it in the same plan — per-segment count tables, weekly
  // axes, top-k prefixes — or by an explicit allow-list entry naming
  // the bounded input. Corpus-over-the-wire global sorts must use
  // graft.ext.SegmentedRank instead.
  private def unpartitionedWindow(optimized: LogicalPlan): Boolean =
    optimized.collect {
      case w: Window if w.partitionSpec.isEmpty =>
        w.child.collect {
          case p @ (_: Aggregate | _: GlobalLimit | _: LocalLimit |
                    _: Deduplicate | _: Sample) => p
        }.isEmpty
    }.contains(true)

  // one build per registry query; each audit keeps its plan phase
  private lazy val audits: Seq[Audit] = SparkEntry.registry.map { q =>
    val qe = q.fn(spark, sf).queryExecution
    Audit(q.name, qe.executedPlan.toString(),
      unboundedHint(qe.analyzed), unpartitionedWindow(qe.optimizedPlan))
  }

  test("no query falls back to SortAggregate (hash/object-hash only)") {
    val offenders = audits.collect {
      case a if a.executed.contains("SortAggregate") && !sortAggOk(a.name) => a.name
    }
    assert(offenders.isEmpty, s"SortAggregate fallback in: $offenders")
  }

  test("no query plans a CartesianProduct") {
    val offenders = audits.collect {
      case a if a.executed.contains("CartesianProduct") => a.name
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin appears only where a broadcast cross join is declared") {
    val offenders = audits.collect {
      case a if a.executed.contains("BroadcastNestedLoopJoin") && !broadcastCrossOk(a.name) => a.name
    }
    assert(offenders.isEmpty, s"unexpected BNLJ in: $offenders")
  }

  test("explicit broadcast hints never attach to an unbounded SF-scaling scan") {
    val offenders = audits.collect { case a if a.unboundedHint => a.name }
    assert(offenders.isEmpty, s"unbounded broadcast hints in: $offenders")
  }

  test("no unpartitioned window runs over an unbounded (corpus-sized) input") {
    val unboundedOk = Set.empty[String] // every bounded axis is currently structural
    val offenders = audits.collect {
      case a if a.unpartitionedWindow && !unboundedOk(a.name) => a.name
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: $offenders")
  }

  test("x25b plans no Window at all (the decile bin is a map, not a sort)") {
    // x25's exact NTILE is the one sanctioned global-window query; its
    // scale twin must get the same answer shape with zero Window operators
    // — boundaries from a sketch aggregate, bin lookup as a projection.
    val plan = audits.find(_.name == "x25b_quality_deciles_approx").get.executed
    assert(!plan.contains("Window"), s"x25b regressed to a window/sort plan:\n$plan")
  }

  test("every query result is deterministically ordered (repeatable bytes)") {
    // spot-check a representative sample: run twice, identical sequences
    val sample = Seq("q1_pricing_summary", "w2_latest_order_per_customer",
      "x4_jaccard_pairs", "x5_cosine_topk", "d1_dedup_keep_first")
    sample.foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf).collect().toSeq
      val b = fn(spark, sf).collect().toSeq
      assert(a === b, s"$name not repeatable")
    }
  }
}
