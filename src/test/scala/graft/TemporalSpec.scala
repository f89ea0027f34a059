package graft

import graft.analytics.Temporal
import graft.ext.{Dedup, Sampling}
import org.apache.spark.sql.functions._

/** Specs for the temporal/reshape operators (x15/w3/a13/a14) and the
  * dedup-cluster + hash-split extensions (x16/x17). Each pins a property
  * the DuckDB oracle can't express: plan equivalence to an independent
  * formulation, convergence, or invariance. */
class TemporalSpec extends SparkSuite {
  import spark.implicits._

  test("x15 as-of join matches an independent groupBy-max formulation") {
    val got = Temporal.asof.fn(spark, sf)

    // independent oracle: range join then max view time per purchase
    val ev = Tables.events(spark, sf).withColumn("tus", unix_micros(col("ts")))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id".as("pu"), $"tus".as("ptus"))
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"tus".as("vtus"), $"value".as("vval"))
    val expected = p.join(v, $"pu" === $"vu" && $"vtus" <= $"ptus", "left")
      .groupBy($"event_id").agg(max($"vtus").as("exp_view_tus"))

    val joined = got.join(expected, Seq("event_id"), "left")
    assert(joined.filter(!($"view_tus" <=> $"exp_view_tus")).count() === 0)
    // every row keeps the as-of invariant
    assert(got.filter($"view_tus" > $"purchase_tus").count() === 0)
    assert(got.count() === p.count()) // left join: one row per purchase
  }

  test("x15 plans with ZERO join operators and at most 2 shuffles (window + final sort)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = Temporal.asof.fn(spark, sf)
    df.count()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    // the as-of JOIN is computed without any join operator at all —
    // that's the union+window re-expression working as designed
    assert(!nodes.exists(_.nodeName.contains("Join")),
      s"unexpected join in: ${nodes.map(_.nodeName).distinct}")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"expected <=2 shuffles (key window + result sort), got $shuffles")
  }

  test("x15 pairs view_tus and view_value from the SAME view row when value is NULL") {
    // A view with a genuinely-NULL value must still win the as-of match:
    // view_tus = its timestamp AND view_value = NULL, never an older
    // view's value (the struct-carry contract; bare last(v_value,
    // ignoreNulls) would desync the two columns here).
    val ev = Seq(
      (1L, 100L, 10L, "view", Some(5.0)),   // older view, value present
      (2L, 100L, 20L, "view", None),        // newest view, value NULL
      (3L, 100L, 30L, "purchase", Some(9.9)),
      (4L, 200L, 40L, "purchase", Some(1.0)) // purchase with no view at all
    ).toDF("event_id", "user_id", "tus", "event_type", "value")
    val got = Temporal.asofPlan(ev).orderBy($"event_id").collect()
    assert(got.length === 2)
    val r1 = got(0) // user 100: matched the tus=20 view, whose value is NULL
    assert(r1.getLong(3) === 20L)
    assert(r1.isNullAt(4), s"view_value must be the matched row's NULL, got $r1")
    val r2 = got(1) // user 200: no view → both NULL
    assert(r2.isNullAt(3) && r2.isNullAt(4))
  }

  test("x16 connected components: fixpoint by round 8, labels are component minima") {
    val labels = Dedup.dedupClusters.fn(spark, "/root/testdata/sf0.01")
      .select($"doc_id", $"cluster_id").cache()
    try {
      val pairs = Dedup.scoredPairs(spark, "/root/testdata/sf0.01")
        .filter($"jac" >= 0.5).select($"doc_a", $"doc_b")
      val edges = pairs.union(pairs.select($"doc_b", $"doc_a")).toDF("u", "v")
      // one more propagation round must change nothing (fixpoint ⇒ the
      // fixed-depth SQL oracle and the Spark loop agree at any depth ≥ 8)
      val nbrMin = edges.join(
          labels.select($"doc_id".as("u"), $"cluster_id".as("comp")), "u")
        .groupBy($"v").agg(min($"comp").as("nbr"))
      val changed = labels.join(nbrMin, $"doc_id" === $"v", "left")
        .filter(coalesce($"nbr", $"cluster_id") < $"cluster_id")
      assert(changed.count() === 0)
      // both endpoints of every edge share a component
      val ab = pairs
        .join(labels.select($"doc_id".as("doc_a"), $"cluster_id".as("ca")), "doc_a")
        .join(labels.select($"doc_id".as("doc_b"), $"cluster_id".as("cb")), "doc_b")
      assert(ab.filter($"ca" =!= $"cb").count() === 0)
      // the label is the min doc_id of its component
      val badMin = labels.groupBy($"cluster_id").agg(min($"doc_id").as("lo"))
        .filter($"cluster_id" =!= $"lo")
      assert(badMin.count() === 0)
    } finally labels.unpersist()
  }

  test("x17 hash split is deterministic and partitions the table") {
    val a = Sampling.hashSplit.fn(spark, sf).collect()
    val b = Sampling.hashSplit.fn(spark, sf).collect()
    assert(a.sameElements(b))
    val n = a.length
    val holdout = a.count(_.getString(2) == "holdout")
    assert(holdout > 0 && holdout < n) // both splits non-empty
    // expectation 2/16 ± generous tolerance at 500 docs
    assert(math.abs(holdout.toDouble / n - 0.125) < 0.06)
  }

  test("a14 exact-decimal stddev agrees with Spark's stddev_samp to 1e-9") {
    val got = Temporal.groupStats.fn(spark, sf)
    val ref = Tables.events(spark, sf).groupBy($"event_type")
      .agg(stddev_samp($"value").as("sd_ref"), avg($"value").as("mean_ref"))
    val j = got.join(ref, "event_type")
      .select($"sd_value", $"sd_ref", $"mean_value", $"mean_ref").collect()
    j.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9 * math.max(1, r.getDouble(1).abs))
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9 * math.max(1, r.getDouble(3).abs))
    }
  }

  test("a13 pivot row-sums equal the unpivoted weekly totals") {
    val piv = Temporal.pivot.fn(spark, sf)
    val cols = Seq("click", "error", "purchase", "signup", "view")
    val rowSum = cols.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _)
    val totals = Tables.events(spark, sf)
      .groupBy(Parity.week($"ts").as("wk"))
      .agg(Parity.dsum($"value").as("total"))
    val j = piv.select($"wk", rowSum.as("row_sum")).join(totals, "wk")
    assert(j.filter(abs($"row_sum" - $"total") > 1e-9).count() === 0)
  }

  test("w3 moving average window covers at most 4 weeks and matches a manual check") {
    val got = Temporal.movingAvg.fn(spark, sf).orderBy($"wk").collect()
    assert(got.nonEmpty)
    // first row: window of one week → avg equals that week's own mean
    val weekly = Tables.lineitem(spark, sf)
      .groupBy(Parity.week($"l_shipdate").as("wk"))
      .agg((Parity.dsum($"l_quantity") / count(lit(1))).as("m"))
      .orderBy($"wk").head()
    assert(math.abs(got.head.getDouble(1) - weekly.getDouble(1)) < 1e-12)
  }
}
