package graft

import org.apache.spark.sql.functions._

/** x104 winnowing: the oracle replays fingerprint selection bit-for-bit;
  * these pin the algorithm itself — the Schleimer match guarantee, the
  * short-document rule, selection density, a plain-Scala model
  * equivalence, and that the selection stage plans as a pure map (no
  * window, no shuffle before the explode). */
class WinnowSpec extends SparkSuite {
  import spark.implicits._

  private def fps(text: String, w: Int = 4): Seq[Long] = {
    Seq(text).toDF("text")
      .select(graft.functions.Winnow3.winnow3(split(col("text"), " "), lit(w)).as("f"))
      .as[Seq[Long]].collect().head
  }

  /** Plain-Scala model: md5 60-bit gram hashes, sliding min, distinct. */
  private def model(text: String, w: Int): Seq[Long] = {
    val ts = text.split(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = ts.sliding(3).filter(_.length == 3).map { g =>
      val d = md.digest(g.mkString(" ").getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }.toArray
    if (h.isEmpty) Seq.empty
    else (0 until math.max(1, h.length - w + 1))
      .map(s => h.slice(s, math.min(s + w, h.length)).min)
      .distinct.sorted
  }

  test("winnow3 equals the plain-Scala model; output sorted distinct") {
    val texts = Seq(
      "a b c d e f g h i j k l m n o p",
      "the quick brown fox jumps over the lazy dog again and again and again",
      "x y z", "a b", "", "w w w w w w w w")
    for (t <- texts; w <- Seq(1, 2, 4, 7)) {
      val got = fps(t, w)
      assert(got === model(t, w), s"text='$t' w=$w")
      assert(got === got.distinct.sorted, s"not sorted distinct: '$t' w=$w")
    }
  }

  test("match guarantee: docs sharing a w+2-token passage share a fingerprint") {
    val passage = "alpha beta gamma delta epsilon zeta" // 6 = W+2 tokens
    val a = s"one two three $passage four five six"
    val b = s"seven eight $passage nine ten eleven twelve"
    assert(fps(a).intersect(fps(b)).nonEmpty)
  }

  test("short-document rule: one gram yields exactly one fingerprint; fewer none") {
    assert(fps("x y z").length === 1)
    assert(fps("x y").isEmpty)
    assert(fps("").isEmpty)
  }

  test("density: fingerprints never exceed window starts") {
    val t = (1 to 200).map(i => s"t$i").mkString(" ")
    val grams = 200 - 2
    assert(fps(t).length <= grams - 4 + 1)
  }

  test("x104 pairs: containment bounded, shared under both fingerprint counts") {
    val rows = ext.Winnowing.fingerprintPairs.fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    for ((a, b, shared, na, nb, c) <- rows) {
      assert(a < b)
      assert(shared >= 2 && shared <= math.min(na, nb), s"($a,$b)")
      assert(c > 0.0 && c <= 1.0, s"($a,$b): $c")
    }
  }

  test("x104 guard: candidate pairs bounded by (MaxDf-1)/2 per fingerprint row") {
    // The max-df guard's structural promise — the one that keeps the
    // fp-keyed pair join linear in corpus size: every fingerprint kept
    // for pairing contributes at most df·(df−1)/2 ≤ (MaxDf−1)/2·df
    // pairs, so total candidates ≤ 9.5 × fingerprint rows regardless of
    // corpus shape (boilerplate fps with df > MaxDf never pair at all).
    // The r12 scaled-probe diagnosis backs the same claim empirically:
    // candidates grew exactly 2.002× from factor 10 to 20 (3,459,074 →
    // 6,923,426 over 1.01M → 2.03M fp rows — SCALING.md, x104 row);
    // fingerprints are copy-disjoint because gram hashes are md5 of the
    // raw token text.
    val r = ext.Winnowing.candidateStats(spark, sf).collect().head
    val (nFp, nRows, cand) = (r.getLong(0), r.getLong(1), r.getLong(4))
    assert(nFp > 0 && cand >= 0)
    assert(cand <= nRows * 19 / 2,
      s"candidate pairs $cand exceed the (MaxDf-1)/2 bound over $nRows fp rows")
  }

  test("x104 plan: fingerprint selection is a pure map — no Window anywhere") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = ext.Winnowing.fingerprintPairs.fn(spark, sf)
    df.count()
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]))
  }
}
