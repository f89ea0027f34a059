package graft

import graft.plans.{TopKPerKey, TopKPerKeyFinalExec, TopKPerKeyPartialExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom whole-operator extension: logical TopKPerKey →
  * TopKPerKeyStrategy → partial/final bounded-heap execs. */
class TopKPerKeySpec extends SparkSuite {
  import spark.implicits._

  test("t6 equals the window row_number formulation exactly") {
    val o = Tables.orders(spark, sf)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    val got = TopKPerKey.topKPerKey(o, Seq("o_orderpriority"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .orderBy($"o_orderpriority", $"o_totalprice".desc, $"o_orderkey")
      .collect()
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val exp = o.withColumn("rn", row_number().over(w)).filter($"rn" <= 3).drop("rn")
      .orderBy($"o_orderpriority", $"o_totalprice".desc, $"o_orderkey")
      .collect()
    assert(got.toSeq === exp.toSeq)
  }

  test("plans as partial heaps below one key-exchange, final heaps above") {
    val o = Tables.orders(spark, sf)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
    val df = TopKPerKey.topKPerKey(o, Seq("o_orderpriority"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    df.count() // force AQE to finalize stages
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    val fin = nodes.collect { case f: TopKPerKeyFinalExec => f }
    val part = nodes.collect { case pp: TopKPerKeyPartialExec => pp }
    assert(fin.size === 1 && part.size === 1)
    // exchange sits between final and partial: partial is NOT a direct
    // child of final, and some shuffle exists on the path
    assert(!fin.head.child.isInstanceOf[TopKPerKeyPartialExec])
    assert(nodes.exists(_.isInstanceOf[ShuffleExchangeLike]))
    // the partial runs before the exchange: its subtree contains no shuffle
    assert(!flattenPlan(part.head).tail.exists(_.isInstanceOf[ShuffleExchangeLike]))
  }

  test("bounded heaps: k larger than group, single row, ties, empty input") {
    val tiny = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 7.0), ("b", 4L, 1.0))
      .toDF("k", "id", "v").repartition(3)
    // k=10 > group sizes → whole groups come back
    assert(TopKPerKey.topKPerKey(tiny, Seq("k"), Seq(("v", false), ("id", true)), 10)
      .count() === 4)
    // ties on v broken by id: top-2 of group a = (3,7.0), (1,5.0)
    val top2 = TopKPerKey.topKPerKey(tiny, Seq("k"), Seq(("v", false), ("id", true)), 2)
      .filter($"k" === "a").orderBy($"v".desc, $"id").select($"id").as[Long].collect()
    assert(top2.toSeq === Seq(3L, 1L))
    // empty input → empty output, no failure
    assert(TopKPerKey.topKPerKey(tiny.filter($"k" === "zzz"), Seq("k"),
      Seq(("v", true)), 2).count() === 0)
  }

  test("keyless call is GLOBAL top-k (AllTuples), not per-partition top-k") {
    val df = spark.range(1000).select($"id", ($"id" % 313).cast("double").as("v"))
      .repartition(8)
    val got = TopKPerKey.topKPerKey(df, Seq.empty, Seq(("v", false), ("id", true)), 5)
      .orderBy($"v".desc, $"id").select($"id").as[Long].collect()
    val exp = df.orderBy($"v".desc, $"id").limit(5).select($"id").as[Long].collect()
    assert(got.toSeq === exp.toSeq) // exactly 5 rows globally, not 5 per partition
  }

  test("per-partition partial really bounds rows entering the shuffle") {
    // 1 key, 200 rows, 8 partitions, k=3 → partial emits ≤ 3 rows per
    // partition (≤ 24 total), not 200.
    val df = spark.range(200).select(lit("only").as("k"), $"id",
      ($"id" % 17).cast("double").as("v")).repartition(8)
    val partial = TopKPerKeyPartialExec(
      keys = Seq(df.queryExecution.analyzed.output.head),
      order = Seq(org.apache.spark.sql.catalyst.expressions.SortOrder(
        df.queryExecution.analyzed.output(2),
        org.apache.spark.sql.catalyst.expressions.Descending)),
      k = 3,
      child = df.queryExecution.executedPlan)
    val n = partial.execute().count()
    assert(n <= 24, s"partial emitted $n rows, expected <= 24")
  }

  private val rankSql =
    s"""SELECT * FROM (
       |  SELECT l_returnflag, l_orderkey, l_extendedprice,
       |    row_number() OVER (PARTITION BY l_returnflag
       |      ORDER BY l_extendedprice DESC, l_orderkey) AS rn
       |  FROM parquet.`$sf/lineitem.parquet`) WHERE rn <= 3""".stripMargin

  test("rewrite rule: rank-limit SQL plans through TopKPerKey, same output") {
    val before = spark.sql(rankSql).collect().map(_.toSeq).toSeq
    graft.plans.TopKPerKeyRewrite.register(spark)
    try {
      val df = spark.sql(rankSql)
      val plan = flattenPlan(df.queryExecution.executedPlan)
      assert(plan.exists(_.isInstanceOf[graft.plans.TopKPerKeyFinalExec]),
        s"no TopKPerKey in:\n${df.queryExecution.executedPlan}")
      assert(plan.exists(_.isInstanceOf[graft.plans.TopKPerKeyPartialExec]))
      assert(df.collect().map(_.toSeq).toSeq.sortBy(_.toString) ===
        before.sortBy(_.toString))
    } finally graft.plans.TopKPerKeyRewrite.unregister(spark)
  }

  test("rewrite rule: idempotent at fixpoint; ineligible windows untouched") {
    val plan = spark.sql(rankSql).queryExecution.optimizedPlan
    val once = graft.plans.TopKPerKeyRewrite(plan)
    assert(once !== plan) // it fired
    assert(graft.plans.TopKPerKeyRewrite(once) === once) // and only once
    // a window computing MORE than the row_number must not rewrite
    // (the extra column needs the full per-key input)
    val multi = spark.sql(
      s"""SELECT * FROM (
         |  SELECT l_returnflag, l_orderkey,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey) AS rn,
         |    sum(l_extendedprice) OVER (PARTITION BY l_returnflag ORDER BY l_orderkey) AS s
         |  FROM parquet.`$sf/lineitem.parquet`) WHERE rn <= 3""".stripMargin)
      .queryExecution.optimizedPlan
    assert(graft.plans.TopKPerKeyRewrite(multi) === multi)
  }

  test("rewrite rule: the rn = 1 argmax idiom rewrites to k = 1") {
    val p = spark.sql(
      s"""SELECT * FROM (
         |  SELECT l_returnflag, l_orderkey,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey) AS rn
         |  FROM parquet.`$sf/lineitem.parquet`) WHERE rn = 1""".stripMargin)
      .queryExecution.optimizedPlan
    val rewritten = graft.plans.TopKPerKeyRewrite(p)
    val topk = rewritten.collect { case t: graft.plans.TopKPerKey => t }
    assert(topk.map(_.k) === Seq(1))
  }
}
