package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `winnow3(tokens, w)` — the DISTINCT winnowed fingerprints (Schleimer
  * et al., SIGMOD'03 — the MOSS algorithm) of a token array's 3-gram
  * hashes, one codegen'd pass: hash every 3-token shingle, slide a
  * w-window over the hash sequence, keep each window's minimum, dedup.
  *
  * The winnowing guarantee: any match of length ≥ w+2 tokens between two
  * documents shares at least one selected fingerprint — density 2/(w+1)
  * of the gram count, the local-minimum sampling that makes fingerprint
  * indexes ~w× smaller than full shingle sets at no recall loss for
  * long matches.
  *
  * Engine-portable hashes ON PURPOSE: each gram hashes to the first 15
  * hex chars of its md5 (60 bits, always positive), bit-identical to
  * DuckDB's `('0x' || substr(md5(g), 1, 15))::BIGINT` — the
  * `shingle_str3`/x2 portability recipe, so the oracle replays the
  * fingerprint selection exactly. Gram strings use `concatWs` null
  * semantics (nulls skipped without separator), same as shingle_str3.
  *
  * Short-document rule: with fewer than w grams the single window is
  * the whole gram list (every document with ≥ 1 gram yields ≥ 1
  * fingerprint); the oracle mirrors it by clamping the window-start
  * range at 1.
  *
  * Why an Expression and not higher-order functions: the HOF spelling
  * (`transform(sequence(...), i -> array_min(slice(...)))` over
  * md5-transformed grams) evaluates interpreted and boxes every
  * candidate — the x87 PhraseCount lesson (10.6× there). This loop
  * inlines into whole-stage codegen; the O(grams·w) inner scan is
  * deliberate (w is a small constant; a monotonic deque would save
  * nothing at w = 4 and cost allocation). */
case class Winnow3(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, int), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow3"

  override def nullSafeEval(tokens: Any, w: Any): Any =
    Winnow3.winnow(tokens.asInstanceOf[ArrayData], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, w) => s"graft.functions.Winnow3.winnow($a, $w)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Winnow3 = copy(left = newLeft, right = newRight)
}

object Winnow3 {
  private val Space = UTF8String.fromString(" ")
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** 60-bit gram hash: the first 15 hex chars of md5 read as an integer
    * — bytes 0..6 plus the high nibble of byte 7. */
  private def hash60(md: java.security.MessageDigest, g: UTF8String): Long = {
    md.reset()
    val d = md.digest(g.getBytes)
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Shared by interpreted eval and generated code. */
  def winnow(arr: ArrayData, w: Int): ArrayData = {
    require(w >= 1, s"winnow3 window must be >= 1, got $w")
    val n = arr.numElements()
    val grams = n - 2
    if (grams <= 0) return new GenericArrayData(Array.emptyLongArray)
    val md = Md5.get()
    val h = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      h(i) = hash60(md, UTF8String.concatWs(Space,
        arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2)))
      i += 1
    }
    val windows = math.max(1, grams - w + 1)
    val set = new java.util.TreeSet[java.lang.Long]()
    var s = 0
    while (s < windows) {
      var m = Long.MaxValue
      var j = s
      val e = math.min(s + w, grams)
      while (j < e) { if (h(j) < m) m = h(j); j += 1 }
      set.add(m)
      s += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  def winnow3(tokens: Column, w: Column): Column =
    GraftSqlShim.column(tokens, w)(e => Winnow3(e(0), e(1)))
}
