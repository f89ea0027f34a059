package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst extension (SURVEY.md §2.8 preference (c)):
  * per-key top-k as a first-class plan node.
  *
  * The reference's report queries are full of "k best rows per group"
  * (`nlargest(10)`, LIMIT-per-entity — weekly-report.py:218,367,383).
  * Spark's two stock answers both over-work at scale:
  *   - window `row_number() <= k`: sorts EVERY key group in full, and
  *     shuffles EVERY input row to do it;
  *   - `TakeOrderedAndProject`: global top-k only, no grouping.
  * This operator runs a bounded heap per key on each input partition
  * (partial), shuffles only the ≤ k survivors per (key, partition), and
  * reduces heaps again after the exchange (final) — the groupwise
  * analogue of partial aggregation. Shuffle volume drops from N rows to
  * ≤ k·partitions per key, and memory is bounded by
  * (distinct keys per partition) × k rows — the hash-aggregate memory
  * model, with no full sort anywhere.
  *
  * Wiring: logical node → strategy (partial under, final over the
  * exchange that `requiredChildDistribution` makes Spark insert) →
  * `SparkSessionExtensions.injectPlannerStrategy` /
  * `spark.experimental.extraStrategies`.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKey {

  /** Bounded per-key heap pass — shared by the partial and final execs.
    * Keeps the k first rows per key under `order` (max-heap of retained
    * rows: the head is the worst survivor, evicted when a better row
    * arrives). Rows and keys are copied out of the reused input row. */
  private[plans] def topKIterator(
      it: Iterator[InternalRow],
      keys: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      inputAttrs: Seq[Attribute]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keys, inputAttrs)
    val ord = GenerateOrdering.generate(order, inputAttrs)
    val heaps = mutable.LinkedHashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
    it.foreach { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case Some(heap) =>
          if (heap.size < k) heap += row.copy()
          else if (ord.compare(row, heap.head) < 0) { heap.dequeue(); heap += row.copy() }
        case None =>
          val heap = mutable.PriorityQueue.empty[InternalRow](ord)
          heap += row.copy()
          heaps.put(key.copy(), heap)
      }
    }
    heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
  }

  /** Column-API entry point: `topKPerKey(df, keys, orderBy, k)`.
    * Key/order expressions are resolved against the input's analyzed
    * output, so the plan drops into the tree fully resolved. The node
    * is planted only here and by [[TopKPerKeyRewrite]], so this installs
    * the strategy that plans it ([[register]], idempotent). */
  def topKPerKey(
      df: DataFrame,
      keyNames: Seq[String],
      orderBy: Seq[(String, Boolean)], // (column, ascending?)
      k: Int): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val byName = analyzed.output.map(a => a.name -> a).toMap
    def attr(n: String): Attribute = byName.getOrElse(n,
      throw new IllegalArgumentException(s"no column $n in ${byName.keys.mkString(", ")}"))
    val order = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending) }
    register(df.sparkSession)
    GraftSqlShim.ofRows(df.sparkSession,
      TopKPerKey(keyNames.map(attr), order, k, analyzed))
  }

  /** Idempotent per-session strategy install, called by [[topKPerKey]]
    * and [[TopKPerKeyRewrite.register]]; the conf-based route is
    * `spark.sql.extensions=graft.functions.GraftExtensions`. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        TopKPerKeyStrategy +: spark.experimental.extraStrategies
}

/** Pre-shuffle phase: bounded heaps per key within each input partition.
  * No distribution requirement — runs where the data already is. */
case class TopKPerKeyPartialExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(
      TopKPerKey.topKIterator(_, keys, order, k, output), preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Post-shuffle phase: same heap pass, but over key-clustered input —
  * `requiredChildDistribution` makes EnsureRequirements hash-partition
  * the (already k-bounded) partials by key. */
case class TopKPerKeyFinalExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  // keyless = GLOBAL top-k: all partials must meet in one place
  // (UnspecifiedDistribution here would silently return per-partition
  // top-k); keyed = cluster by key.
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(
      TopKPerKey.topKIterator(_, keys, order, k, output), preservesPartitioning = true)
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerKey → partial + final physical pair. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      TopKPerKeyFinalExec(keys, order, k,
        TopKPerKeyPartialExec(keys, order, k, planLater(child))) :: Nil
    case _ => Nil
  }
}
