package graft

import graft.ext.{Bloom, Curation}

/** x53 Bloom decontamination: the oracle replays the filter bit-for-bit
  * (false positives included); this pins the PROPERTIES the replay can't
  * state — the one-sided error guarantee against x22's exact join (no
  * false negatives, ever), a sane false-positive rate at the shipped
  * sizing, the aggregator's bitmap vs a plain-Scala model, and
  * partition invariance of the build. */
class BloomSpec extends SparkSuite {
  import spark.implicits._

  test("bitmap aggregator matches a plain-Scala bitset model") {
    val positions = Seq(0L, 1L, 63L, 64L, 65L, 1000L, 1023L, 0L, 65L)
    val words = 16
    val got = positions.toDF("p").as[Long]
      .select(new Bloom.BitmapOr(words).toColumn.name("bm"))
      .collect()(0)
    val want = new Array[Long](words)
    positions.foreach(p => want((p >> 6).toInt) |= 1L << (p & 63))
    assert(got.toSeq === want.toSeq)
  }

  test("no false negatives: every x22 exact hit is an x53 bloom hit, per doc") {
    val exact = Curation.decontaminate.fn(spark, sf)
      .select($"doc_id", $"n_hit_shingles").as[(Long, Long)].collect().toMap
    val bloom = Bloom.bloomDecontam.fn(spark, sf)
      .select($"doc_id", $"n_bloom_hits").as[(Long, Long)].collect().toMap
    assert(exact.keySet === bloom.keySet) // same train split
    val violations = exact.filter { case (d, n) => bloom(d) < n }
    assert(violations.isEmpty,
      s"bloom must never miss an exact hit: $violations")
  }

  test("false-positive gram rate stays low at the shipped m/k sizing") {
    val exact = Curation.decontaminate.fn(spark, sf)
      .select($"doc_id", $"n_hit_shingles").as[(Long, Long)].collect().toMap
    val bloom = Bloom.bloomDecontam.fn(spark, sf)
      .select($"doc_id", $"n_grams", $"n_bloom_hits").as[(Long, Long, Long)]
      .collect()
    val fp = bloom.map { case (d, _, nb) => (nb - exact(d)) max 0L }.sum.toDouble
    val clean = bloom.map { case (d, ng, _) => ng - exact(d) }.sum.toDouble
    val rate = if (clean == 0) 0.0 else fp / clean
    info(f"gram-level FP rate = $rate%.5f")
    assert(rate < 0.05, f"FP rate $rate%.4f too high for m=${Bloom.MBits}, k=${Bloom.K}")
  }

  test("filter build is invariant under input repartitioning (OR-fold commutes)") {
    val lanes = (1 to 1000).map(i =>
      (i.toLong, s"g$i", (i * 2654435761L) & 0xffffffffL, (i * 40503L) & 0xffffffffL))
      .toDF("doc_id", "g", "hi", "lo")
    val a = Bloom.buildFilter(lanes)
    val b = Bloom.buildFilter(lanes.repartition(7))
    assert(a.toSeq === b.toSeq)
  }
}
