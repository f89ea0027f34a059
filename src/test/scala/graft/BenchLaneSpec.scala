package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench lane partition (no SparkSession needed — pure registry
  * structure). The graph lane exists because one shared JVM contaminated
  * exactly the iterative graph medians the round delta watches (r12
  * x110); its membership is DERIVED from the registry so a new graph
  * query cannot silently bench in the main lane (r13 verdict #2). */
class BenchLaneSpec extends AnyFunSuite {

  test("graph lane is derived from ext.Graph.all and registered") {
    val lane = Bench.graphLane
    assert(lane === ext.Graph.all.map(_.name).toSet)
    val registered = SparkEntry.registry.map(_.name).toSet
    assert(lane.subsetOf(registered),
      s"lane members missing from registry: ${lane -- registered}")
  }

  test("lane partition covers the registry exactly (graph + main, disjoint)") {
    val names = SparkEntry.queries.keys.toSet
    val graph = names.filter(Bench.graphLane)
    val main = names.filterNot(Bench.graphLane)
    assert(graph.nonEmpty, "graph lane empty — lane fork is a no-op")
    assert((graph ++ main) === names && (graph & main).isEmpty)
  }

  test("the r13 graph family is still in the lane (refactor guard)") {
    // the 18 members at the time the lane was introduced — a derivation
    // change that DROPS any of these reintroduces the r12 contamination
    val r13 = Set(
      "x59_pagerank", "x60_triangle_count", "x60b_triangle_doulion",
      "x63_bfs_hops", "x70_label_propagation", "x70b_lpa_converged",
      "x73_kcore_peel", "x73b_kcore_converged", "x81_sssp_weighted",
      "x99_clustering_coeff", "x99b_clustering_doulion",
      "x102_assortativity", "x110_link_predict", "x118_hits",
      "x148_personalized_pagerank", "x149_lpa_modularity",
      "x155_effective_diameter", "x158_harmonic_centrality")
    assert(r13.subsetOf(Bench.graphLane),
      s"lane lost r13 members: ${r13 -- Bench.graphLane}")
  }

  test("jsonl numbers keep a decimal point under a comma-decimal locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try assert(Bench.fmt(1.5) === "1.500")
    finally java.util.Locale.setDefault(saved)
  }
}
