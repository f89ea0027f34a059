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

  // The lane-file merge is pure: these lines are shaped as a lane child
  // writes them, and no SparkSession runs.
  private def qLine(name: String, v: Double): String =
    s"""{"metric":"query","name":"$name","value":${Bench.fmt(v)},"min":${Bench.fmt(v)},"max":${Bench.fmt(v)},"reps":3,"pos":[0,1,2],"unit":"sec"}"""
  private def calLine(lane: String): String =
    s"""{"metric":"calibration","lane":"$lane","md5_1core_sec":1.000,"md5_par_sec":2.000,"shuffle_20m_sec":3.000,"unit":"sec"}"""
  private val laneSummary = """{"metric":"total","value":3.000,"unit":"sec","n":2}"""
  private val tag = """{"graph":{"n":2,"reps":3},"main":{"n":2,"reps":3}}"""

  test("lane merge: a lane file cut short mid-suite leaves the rest of its lane missing") {
    val graph = Seq(calLine("graph"), qLine("a", 2.0), qLine("b", 1.0), laneSummary)
    val main = Seq(calLine("main"), qLine("c", 3.0)) // killed before d and its summary
    assert(Bench.missing(Seq("a", "b", "c", "d"), Seq(graph, main)) === Set("d"))
    val rerun = Seq(calLine("recovered"), qLine("d", 0.5), laneSummary)
    val out = Bench.merge(Seq(graph, main, rerun), 3, tag)
    assert(out.take(3) === Seq(calLine("graph"), calLine("main"), calLine("recovered")))
    assert(out.slice(3, 7) === Seq(qLine("d", 0.5), qLine("b", 1.0), qLine("a", 2.0), qLine("c", 3.0)))
    assert(out.size === 8)
    val summary = out.last
    assert(summary.startsWith("""{"metric":"total","value":6.500,"unit":"sec","n":4,"failures":0,"failed":[]"""))
    assert(summary.endsWith(s""","lanes":$tag}"""))
  }

  test("lane merge: an absent lane file (a dead child) counts its whole lane as missing") {
    val graph = Seq(calLine("graph"), qLine("a", 2.0), qLine("b", 1.0), laneSummary)
    assert(Bench.missing(Seq("a", "b", "c", "d"), Seq(graph, Seq.empty)) === Set("c", "d"))
    val out = Bench.merge(Seq(graph, Seq.empty), 3, tag)
    assert(out === Seq(calLine("graph"), qLine("b", 1.0), qLine("a", 2.0), out.last))
    assert(out.last.contains(""""n":2,"failures":0"""))
  }

  test("lane merge: a -1 failed query is counted in failures and named in failed") {
    val graph = Seq(calLine("graph"), qLine("a", -1.0), qLine("b", 1.0), laneSummary)
    val main = Seq(calLine("main"), qLine("c", 3.0), qLine("d", -1.0), laneSummary)
    assert(Bench.missing(Seq("a", "b", "c", "d"), Seq(graph, main)).isEmpty)
    val out = Bench.merge(Seq(graph, main), 3, tag)
    // failures sort after every timing, and stay out of the total
    assert(out.slice(2, 6) === Seq(qLine("b", 1.0), qLine("c", 3.0), qLine("a", -1.0), qLine("d", -1.0)))
    assert(out.last.startsWith(
      """{"metric":"total","value":4.000,"unit":"sec","n":4,"failures":2,"failed":["a","d"]"""))
  }
}
