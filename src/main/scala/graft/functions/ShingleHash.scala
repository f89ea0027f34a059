package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_hash3(tokens)` — the 64-bit hashes of every 3-token shingle
  * of a token array, in one codegen'd pass.
  *
  * Replaces the shuffle-shaped formulation
  * `posexplode → window lead ×2 → concat_ws → xxhash64`: that pipeline
  * pays a full shuffle + per-doc sort just to align each token with its
  * two successors, and materializes every shingle STRING before hashing.
  * Here the alignment is an array index, the only allocation is one
  * short-lived concat per shingle, and the whole loop inlines into
  * whole-stage codegen — the shuffle disappears entirely from the
  * shingling stage (the measured higher-order-function alternative was
  * interpreted/boxed; this is neither).
  *
  * Hash values are IDENTICAL to `xxhash64(concat_ws(' ', w, w1, w2))`
  * (XXH64 over the joined string, seed 42) so every downstream consumer
  * (Jaccard self-join, MinHash signatures, LSH bands) sees the same
  * keys as before — including on null tokens, which are passed through
  * to `UTF8String.concatWs` and skipped without a separator, exactly
  * SQL `concat_ws` semantics (`['a', null, 'b']` joins to `"a b"`). */
case class ShingleHash3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash3"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    ShingleHash3.hashAll(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.ShingleHash3.hashAll($a)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash3 =
    copy(child = newChild)
}

/** `shingle_str3(tokens)` — the 3-token shingle STRINGS of a token array,
  * in one codegen'd pass: the un-hashed sibling of `shingle_hash3`, for
  * consumers that need engine-portable shingle values (x2's md5-based
  * MinHash signatures, which the DuckDB oracle must reproduce — xxhash64
  * exists only in Spark). Same alignment-by-index, same concat_ws null
  * rule, no shuffle. */
case class ShingleStr3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_str3"

  override def nullSafeEval(input: Any): Any =
    ShingleStr3.joinAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.ShingleStr3.joinAll($a)")

  override protected def withNewChildInternal(newChild: Expression): ShingleStr3 =
    copy(child = newChild)
}

object ShingleStr3 {
  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. */
  def joinAll(arr: ArrayData): ArrayData = {
    val n = math.max(arr.numElements() - 2, 0)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = UTF8String.concatWs(Space,
        arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def shingleStr3(tokens: Column): Column =
    GraftSqlShim.column(tokens)(e => ShingleStr3(e.head))
}

object ShingleHash3 {
  private val Space = UTF8String.fromString(" ")
  val Seed = 42L // Spark's xxhash64 default seed

  /** Shared by interpreted eval and generated code (one static call —
    * the loop body is JIT-friendly either way). Null tokens go straight
    * to concatWs, which drops them AND their separator — the same rule
    * SQL concat_ws applies — so hashes match xxhash64(concat_ws(...))
    * even for arrays with null elements. */
  def hashAll(arr: ArrayData): UnsafeArrayData = {
    val n = math.max(arr.numElements() - 2, 0)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val joined = UTF8String.concatWs(Space,
        arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2))
      out(i) = XXH64.hashUTF8String(joined, Seed)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def shingleHash3(tokens: Column): Column =
    GraftSqlShim.column(tokens)(e => ShingleHash3(e.head))
}
