package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native expression computing x6's random-hyperplane LSH sign buckets
  * for one embedding: all `NumTables × BitsPerTable` projections in ONE
  * pass over the float vector, returning the packed per-table bucket
  * ids as `array<int>`.
  *
  * Why native: the composed form is a 16 × 64-term projection select —
  * ~1024 scalar expression nodes, which blows whole-stage codegen's
  * method budget into interpreted fallback (measured 0.69s → 2.5s at
  * sf0.1 when x6 switched to explicit sums for oracle portability).
  * This expression keeps the oracle-exact arithmetic — strict
  * left-to-right `Σ x[d]·w[p][d]` double accumulation over the SAME
  * md5-derived ±1 weight matrix the DuckDB oracle inlines — in a single
  * JVM-compiled loop fused into the surrounding generated code.
  */
case class SignBuckets(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_buckets"

  override def nullSafeEval(a: Any): Any =
    SignBuckets.bucketsOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.SignBuckets.bucketsOf($a);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignBuckets {
  val NumTables = 4
  val BitsPerTable = 4
  val Dim = 64

  /** Plane p's ±1 weight for dimension d: parity of the first hex nibble
    * of md5("hp_p_d") — the ONE derivation both this expression and the
    * DuckDB oracle's inlined literals come from. */
  def weight(p: Int, d: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hp_${p}_$d".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 0) -1.0 else 1.0
  }

  /** Flattened [plane][dim] weight matrix, computed once. */
  private val weights: Array[Double] = {
    val w = new Array[Double](NumTables * BitsPerTable * Dim)
    var p = 0
    while (p < NumTables * BitsPerTable) {
      var d = 0
      while (d < Dim) { w(p * Dim + d) = weight(p, d); d += 1 }
      p += 1
    }
    w
  }

  /** Per-table bucket ids for one vector; called from generated code
    * (case-object static forwarder). Strict left-to-right accumulation
    * per plane — bit-identical to the oracle's left-associated SQL sum
    * (the leading `0.0 +` is exact: IEEE x + 0.0 == x up to zero sign,
    * and sign of zero cannot flip a `>= 0` test). Null element → null
    * result, mirroring the composed form's NULL propagation. */
  def bucketsOf(x: ArrayData): ArrayData = {
    val n = math.min(x.numElements(), Dim)
    val out = new Array[Int](NumTables)
    var p = 0
    while (p < NumTables * BitsPerTable) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        if (x.isNullAt(d)) return null
        acc += x.getFloat(d).toDouble * weights(p * Dim + d)
        d += 1
      }
      if (acc >= 0) out(p / BitsPerTable) |= 1 << (p % BitsPerTable)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def signBuckets(a: Column): Column = GraftSqlShim.column(a)(e => SignBuckets(e.head))
}
