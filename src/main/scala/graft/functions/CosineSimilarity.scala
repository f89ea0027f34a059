package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for fused cosine similarity over two
  * `array<double>` columns — dot product and both norms in one pass, with
  * `doGenCode` so it stays inside whole-stage codegen (SURVEY.md §2.8's
  * preference order: native Expression > UDF).
  *
  * Why it matters at 100 TB: the composed form
  * (`aggregate(zip_with(a,b,*), 0, +)` plus two norm folds) materializes
  * an intermediate array per row and evaluates three higher-order loops;
  * this expression is one tight loop over the vectors, fused into
  * the surrounding generated code. Semantics match the composed form
  * bit-for-bit: strict left-to-right double accumulation, NULL when
  * either norm is zero (mirroring x5's guarded division), NULL when the
  * lengths differ (zip_with pads with NULL) or any element is NULL (a
  * NULL term nulls the whole fold).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // Mismatched lengths or a null element → NULL, exactly like the
    // composed zip_with/aggregate form (zip_with pads with NULL, and any
    // NULL term nulls the whole fold).
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($bad || $denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / $denom;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  val name = "cosine_sim"

  private val builder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(exprs(0), exprs(1))

  /** Session-scoped registration (idempotent) for the SQL route,
    * `spark.sql("... cosine_sim(a, b) ...")`; [[cosineSim]] needs none. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Column-API entry point. */
  def cosineSim(a: Column, b: Column): Column = GraftSqlShim.column(a, b)(builder)
}

/** `SparkSessionExtensions` wiring — load with
  * `spark.sql.extensions=graft.functions.GraftExtensions` to get the SQL
  * `cosine_sim` function, the TopKPerKey planner strategy, and the
  * rank-limit optimizer rewrite ([[graft.plans.TopKPerKeyRewrite]]) in
  * every session without explicit register() calls. The Column entry
  * points need none of it, and [[graft.plans.TopKPerKey.topKPerKey]]
  * installs its strategy itself. The rule and the strategy travel
  * together BY CONSTRUCTION: a session that can plant the logical node
  * can always plan it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier(CosineSimilarity.name),
      new ExpressionInfo(classOf[CosineSimilarity].getName, CosineSimilarity.name),
      exprs => CosineSimilarity(exprs(0), exprs(1))))
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectOptimizerRule(_ => graft.plans.TopKPerKeyRewrite)
  }
}
