package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `phrase_count(tokens, phrase)` — occurrences of an adjacent-token
  * phrase in a token array, one codegen'd pass, sliding window
  * (overlapping occurrences count).
  *
  * Replaces the higher-order formulation
  * `size(filter(transform(sequence(...), i -> concat(...)), g -> g = p))`,
  * which evaluates boxed and allocates every candidate bigram string
  * before comparing (the same trap the ShingleHash3 scaladoc documents;
  * measured here: 3.0 s → sub-second at sf0.1 for x87). This loop
  * compares UTF8String slices in place — zero allocation on the match
  * path — and inlines into whole-stage codegen. */
case class PhraseCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, string), got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "phrase_count"

  override def nullSafeEval(tokens: Any, phrase: Any): Any =
    PhraseCount.count(tokens.asInstanceOf[ArrayData],
      phrase.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, p) => s"graft.functions.PhraseCount.count($a, $p)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PhraseCount = copy(left = newLeft, right = newRight)
}

object PhraseCount {
  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. Splitting the
    * (tiny, usually literal) phrase per row costs a few comparisons;
    * the win is never materializing candidate n-gram strings from the
    * (large) token array. */
  def count(arr: ArrayData, phrase: UTF8String): Long = {
    val p = phrase.split(Space, -1)
    val m = p.length
    val n = arr.numElements()
    if (m == 0 || n < m) return 0L
    var cnt = 0L
    var i = 0
    val last = n - m
    while (i <= last) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        val t = arr.getUTF8String(i + j)
        if (t == null || !t.equals(p(j))) ok = false
        j += 1
      }
      if (ok) cnt += 1L
      i += 1
    }
    cnt
  }

  def phraseCount(tokens: Column, phrase: Column): Column =
    GraftSqlShim.column(tokens, phrase)(e => PhraseCount(e(0), e(1)))
}
