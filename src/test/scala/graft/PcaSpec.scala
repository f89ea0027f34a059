package graft


/** x153 PCA power iteration: the oracle replays the integer algorithm
  * exactly, so these tests pin the SEMANTICS the oracle can't — that
  * the fixed-round iteration actually finds the dominant direction. */
class PcaSpec extends SparkSuite {
  import spark.implicits._

  /** Write a crafted embeddings.parquet under a temp dir. */
  private def write(rows: Seq[(Long, Seq[Float], Int)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pca").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("crafted anisotropic cloud: loadings align with the planted direction") {
    // x_v = ±0.4·e0 + deterministic small per-dim jitter — one dominant
    // centered direction along dim 0.
    val d = 8
    val rows = (0 until 200).map { v =>
      val sign = if (v % 2 == 0) 1f else -1f
      val vec = (0 until d).map { j =>
        val jitter = (((v * 31 + j * 17) % 13) - 6) * 0.004f
        (if (j == 0) sign * 0.4f else 0f) + jitter
      }
      (v.toLong, vec, 0)
    }
    val got = ext.Pca.pcaPower.fn(spark, write(rows))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.length === d)
    val loadings = got.map(_._3)
    // dominant coordinate is dim 0 at (near) full scale; the planted
    // share of variance is ≈ 0.4² / (0.4² + jitter var) > 0.95
    assert(math.abs(loadings(0)) > 0.99, s"dim0 loading ${loadings(0)}")
    assert(loadings.drop(1).forall(l => math.abs(l) < 0.15),
      s"off-axis loadings ${loadings.drop(1).toSeq}")
    val ev = got.head._4
    assert(got.forall(_._4 === ev)) // one ratio, repeated per row
    assert(ev > 0.9 && ev <= 1.000001, s"ev_ratio $ev")
  }

  test("real embeddings: bounded loadings, valid variance share, deterministic") {
    val run1 = ext.Pca.pcaPower.fn(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq
    val run2 = ext.Pca.pcaPower.fn(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(run1 === run2, "power iteration not reproducible")
    assert(run1.length === 64)
    // normalization bounds: |v| ≤ 2^20·(1 + ε) by the div rescale
    assert(run1.forall(r => math.abs(r._3) <= 1.1), "loading out of scale")
    assert(run1.map(r => math.abs(r._3)).max > 0.5,
      "no dominant coordinate survived normalization")
    val ev = run1.head._4
    assert(ev > 0.0 && ev <= 1.000001, s"ev_ratio $ev")
  }

  test("sign symmetry: negating every vector leaves the scatter (and result) unchanged") {
    // values are multiples of 1/8 so q = x·2^20 is INTEGRAL — floor then
    // commutes with negation and the quadratic scatter is exactly
    // invariant (with non-dyadic values floor(-y) = -ceil(y) breaks it)
    val d = 6
    val base = (0 until 60).map { v =>
      (v.toLong, (0 until d).map(j => (((v * 7 + j * 5) % 11) - 5) * 0.125f), 0)
    }
    val neg = base.map { case (id, vec, l) => (id, vec.map(-_), l) }
    val a = ext.Pca.pcaPower.fn(spark, write(base))
      .as[(Long, Long, Double, Double)].collect().toSeq
    val b = ext.Pca.pcaPower.fn(spark, write(neg))
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(a === b) // S is quadratic in the data: exact invariance
  }
}
