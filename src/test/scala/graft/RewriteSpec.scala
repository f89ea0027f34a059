package graft

import graft.ext.{Rewrite, Sampling}
import org.apache.spark.sql.functions._

/** x43 block-dedup rewrite + x44 temperature resampling: semantic
  * invariants beyond the DuckDB hash (which pins the values but not the
  * properties that make the operators correct BY CONSTRUCTION). */
class RewriteSpec extends SparkSuite {
  import spark.implicits._

  test("x43: every distinct block content survives exactly once, corpus-wide") {
    // keep-first means the rewritten corpus is a PARTITION of the
    // distinct block space: sum(kept) == |distinct blocks|, and no
    // distinct content is lost.
    val out = Rewrite.blockDedup.fn(spark, sf).cache()
    val keptTotal = out.agg(sum($"kept_blocks")).as[Long].head()
    val docs = Tables.documents(spark, sf)
    val toks = split($"text", " ")
    val distinctBlocks = docs
      .select(explode(transform(
        sequence(lit(0), floor((size(toks) - 1) / lit(10)).cast("int")),
        i => array_join(slice(toks, i * 10 + 1, lit(10)), " "))).as("b"))
      .distinct().count()
    assert(keptTotal == distinctBlocks)
    // and every doc's kept count is bounded by its block count
    assert(out.filter($"kept_blocks" > $"n_blocks").isEmpty)
    out.unpersist()
  }

  test("x43: an exact duplicate document is gutted; the original is untouched") {
    val base = Tables.documents(spark, sf).filter($"doc_id" < 50)
    // doc 9000 is a verbatim copy of doc 7; block-level keep-first must
    // keep doc 7 whole and leave the copy with zero kept blocks.
    val dupText = base.filter($"doc_id" === 7).select($"text").as[String].head()
    val withDup = base.select($"doc_id", $"text")
      .union(Seq((9000L, dupText)).toDF("doc_id", "text"))
    val out = rewriteOf(withDup).cache()
    val orig = out.filter($"doc_id" === 7).head()
    val copy = out.filter($"doc_id" === 9000).head()
    assert(orig.getAs[Long]("kept_blocks") == orig.getAs[Long]("n_blocks"))
    assert(orig.getAs[String]("new_text") == dupText)
    assert(copy.getAs[Long]("kept_blocks") == 0L && copy.getAs[String]("new_text") == "")
    out.unpersist()
  }

  test("x43: rewrite is idempotent — a second pass changes nothing") {
    // after the rewrite every surviving block content occurs exactly
    // once, so re-running the dedup on the rewritten corpus must keep
    // every block of every non-empty doc.
    val first = rewriteOf(
      Tables.documents(spark, sf).filter($"doc_id" < 100).select($"doc_id", $"text"))
    val second = rewriteOf(
      first.filter($"new_text" =!= "").select($"doc_id", $"new_text".as("text"))).cache()
    assert(second.filter($"kept_blocks" =!= $"n_blocks").isEmpty)
    second.unpersist()
  }

  private def rewriteOf(docs: org.apache.spark.sql.DataFrame) =
    graft.ext.Rewrite.pipeline(docs)

  private def spanRewriteOf(docs: org.apache.spark.sql.DataFrame) =
    graft.ext.Rewrite.spanPipeline(docs)

  test("x43b: a one-token-shifted duplicate span survives x43 but is removed by x43b") {
    // the exact x42↔x43 gap the operator closes (r15 verdict board #3):
    // doc 2 quotes doc 1's 12-token span at a different block offset.
    val span = "a b c d e f g h i j k l"
    val docs = Seq(
      (1L, s"u1 u2 $span u3"),
      (2L, s"v1 $span")).toDF("doc_id", "text")
    // aligned 10-token blocks differ → x43 keeps doc 2 whole
    val blocks = rewriteOf(docs).filter($"doc_id" === 2).head()
    assert(blocks.getAs[Long]("kept_blocks") === blocks.getAs[Long]("n_blocks"))
    // sliding 3-gram coverage catches it → x43b guts the span, keeps v1
    val out = spanRewriteOf(docs).cache()
    val d2 = out.filter($"doc_id" === 2).head()
    assert(d2.getAs[Long]("n_dropped") === 12L)
    assert(d2.getAs[String]("new_text") === "v1")
    // the FIRST occurrence (doc 1) keeps every position
    val d1 = out.filter($"doc_id" === 1).head()
    assert(d1.getAs[Long]("n_dropped") === 0L)
    assert(d1.getAs[String]("new_text") === s"u1 u2 $span u3")
    out.unpersist()
  }

  test("x43b: re-clean is a no-op on a crafted corpus (x182b's idempotence invariant)") {
    // per-doc-unique vocab outside the planted duplicates: after the
    // rewrite, any new seam gram contains a doc-unique token, so a
    // second pass can find no cross-doc repeats.
    val span = "p q r s t u v w"
    val docs = Seq(
      (1L, s"a1 a2 $span a3 a4"),
      (2L, s"b1 $span b2 b3 b4 b5"),
      (3L, s"c1 c2 c3 $span"),
      (4L, "d1 d2 d3 d4 d5 d6")).toDF("doc_id", "text")
    val first = spanRewriteOf(docs).cache()
    // doc 1 owns the span (min doc id); 2 and 3 lose exactly its 8 tokens
    assert(first.filter($"doc_id" === 1).head().getAs[Long]("n_dropped") === 0L)
    assert(first.filter($"doc_id" isin (2L, 3L)).collect()
      .forall(_.getAs[Long]("n_dropped") === 8L))
    val second = spanRewriteOf(
      first.filter($"new_text" =!= "")
        .select($"doc_id", $"new_text".as("text"))).cache()
    assert(second.filter($"n_dropped" =!= 0L).isEmpty)
    assert(second.select($"doc_id", $"new_text".as("text"))
      .except(first.filter($"new_text" =!= "")
        .select($"doc_id", $"new_text".as("text"))).isEmpty)
    first.unpersist(); second.unpersist()
  }

  test("x43b: an exact duplicate document is fully gutted") {
    val base = Tables.documents(spark, sf).filter($"doc_id" < 50)
    val dupText = base.filter($"doc_id" === 7).select($"text").as[String].head()
    val withDup = base.select($"doc_id", $"text")
      .union(Seq((9000L, dupText)).toDF("doc_id", "text"))
    val copy = spanRewriteOf(withDup).filter($"doc_id" === 9000).head()
    assert(copy.getAs[Long]("n_dropped") === copy.getAs[Long]("n_tokens"))
    assert(copy.getAs[String]("new_text") === "")
  }

  test("x44: smallest language keeps rate 1.0 and survives whole") {
    val out = Sampling.langTemperature.fn(spark, sf).cache()
    val counts = Tables.documents(spark, sf).groupBy($"lang").count()
    val minLang = counts.orderBy($"count", $"lang").select($"lang").as[String].head()
    val minRows = out.filter($"lang" === minLang)
    assert(minRows.agg(min($"rate")).as[Double].head() == 1.0)
    assert(minRows.filter(!$"kept").isEmpty)
    out.unpersist()
  }

  test("x44: kept counts equalize toward sqrt — ordering preserved, spread compressed") {
    val out = Sampling.langTemperature.fn(spark, sf).cache()
    val before = Tables.documents(spark, sf).groupBy($"lang").count()
      .as[(String, Long)].collect().toMap
    val after = out.filter($"kept").groupBy($"lang").count()
      .as[(String, Long)].collect().toMap
    // expected kept ≈ n_l · sqrt(n_min/n_l) = sqrt(n_min · n_l); the
    // Knuth-hash uniform is equidistributed enough at 500 docs for a
    // ±30% tolerance band per language.
    val nMin = before.values.min
    before.foreach { case (l, n) =>
      val expected = math.sqrt(nMin.toDouble * n)
      val got = after.getOrElse(l, 0L).toDouble
      assert(math.abs(got - expected) <= 0.3 * expected + 3,
        s"$l: kept $got, expected ~$expected of $n")
    }
    // temperature compresses the ratio between largest and smallest
    val ratioBefore = before.values.max.toDouble / nMin
    val ratioAfter = after.values.max.toDouble / after.values.min
    assert(ratioAfter < ratioBefore)
    out.unpersist()
  }
}
