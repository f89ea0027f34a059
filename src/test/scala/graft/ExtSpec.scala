package graft

import graft.ext.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** Extension operators: the non-SQL-oracle paths get their correctness
  * story here — LSH recall vs the exact baselines, simhash locality,
  * multimodal determinism. Runs at sf0.001 for speed (500 docs / 500
  * vectors — same as sf0.01 for documents/embeddings). */
class ExtSpec extends SparkSuite {
  import spark.implicits._

  test("shingle_hash3 emits exactly the window-lead formulation's hash set") {
    // the native expression must produce the SAME (doc, hash) set as the
    // posexplode → lead×2 → concat_ws → xxhash64 pipeline it replaced —
    // Jaccard joins, MinHash seeds, and LSH bands all key on these values
    val docs = Tables.documents(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val legacy = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "t")))
      .withColumn("t1", lead($"t", 1).over(w))
      .withColumn("t2", lead($"t", 2).over(w))
      .filter($"t2".isNotNull)
      .select($"doc_id", xxhash64(concat_ws(" ", $"t", $"t1", $"t2")).as("g"))
      .distinct()
    val native = Dedup.shingleHashes(docs)
    assert(native.exceptAll(legacy).isEmpty && legacy.exceptAll(native).isEmpty)
  }

  test("shingle_hash3 matches xxhash64(concat_ws) on arrays WITH null tokens") {
    // SQL concat_ws drops a NULL argument and its separator ('a b', not
    // 'a  b'); the native expression passes nulls straight to
    // UTF8String.concatWs, which applies the same rule — pinned here
    // because the Column entry point takes any array<string>, where
    // (unlike split() output) null elements are reachable.
    val rows = Seq(
      Seq[String]("a", null, "b"),
      Seq[String](null, null, "x"),
      Seq[String]("p", "q", null, "r", "s")
    ).toDF("toks")
    val got = rows.select(
      graft.functions.ShingleHash3.shingleHash3($"toks").as("h"),
      expr("transform(sequence(0, size(toks) - 3), " +
        "i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))").as("ref"))
    assert(got.filter(!($"h" <=> $"ref")).count() === 0)
  }

  test("x2 MinHash+LSH finds every exact-Jaccard pair at >= 0.8 (recall 1.0 band)") {
    val exact = SparkEntry.queries("x4_jaccard_pairs")(spark, sf)
      .filter($"jac" >= 0.8).select("doc_a", "doc_b")
    val lsh = SparkEntry.queries("x2_minhash_lsh_pairs")(spark, sf)
      .select("doc_a", "doc_b")
    val missed = exact.exceptAll(lsh)
    assert(missed.isEmpty, s"LSH missed high-sim pairs: ${missed.collect().mkString(",")}")
  }

  test("x2 LSH verified output is a subset of the exact >= 0.5 pair set") {
    val exact = SparkEntry.queries("x4_jaccard_pairs")(spark, sf).select("doc_a", "doc_b")
    val lsh = SparkEntry.queries("x2_minhash_lsh_pairs")(spark, sf).select("doc_a", "doc_b")
    assert(lsh.exceptAll(exact).isEmpty, "LSH emitted a pair the exact verifier rejects")
  }

  test("x3 SimHash: near-dup pairs are close in hamming distance, random pairs are not") {
    val sim = SparkEntry.queries("x3_simhash")(spark, sf)
      .select($"doc_id", $"simhash")
    val nearDups = SparkEntry.queries("x4_jaccard_pairs")(spark, sf)
      .filter($"jac" >= 0.9).select("doc_a", "doc_b")
    val withH = nearDups
      .join(sim.select($"doc_id".as("doc_a"), $"simhash".as("ha")), "doc_a")
      .join(sim.select($"doc_id".as("doc_b"), $"simhash".as("hb")), "doc_b")
      .select(Dedup.hamming($"ha", $"hb").as("d"))
    val (maxNear, meanNear) = withH.agg(max($"d"), avg($"d")).as[(Int, Double)].head()
    assert(maxNear <= 16, s"near-dup hamming distance too large: $maxNear")
    // background baseline: consecutive non-dup ids. The corpus shares a
    // ~40-word vocabulary so simhashes are correlated (mean ≈ 14, not the
    // 32 of independent longs) — the signal is the near-dup/background gap.
    val pairs = sim.as[(Long, Long)].collect().sortBy(_._1)
    val rand = pairs.sliding(2).collect { case Array((i, a), (j, b)) if j == i + 1 =>
      java.lang.Long.bitCount(a ^ b) }.toSeq
    val randMean = rand.sum.toDouble / rand.size
    assert(randMean > 2.0 * (meanNear + 1), s"no locality gap: bg=$randMean near=$meanNear")
  }

  test("x27 simhash banding finds EVERY pair within hamming 3 (pigeonhole recall)") {
    // brute-force ground truth over all simhash pairs at sf0.001
    val sim = SparkEntry.queries("x3_simhash")(spark, sf)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect()
    val truth = (for {
      (a, ha) <- sim; (b, hb) <- sim if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val got = SparkEntry.queries("x27_simhash_band_pairs")(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got === truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("x6 ANN returns ranked candidates and respects the cosine ordering of x5 on hits") {
    val ann = SparkEntry.queries("x6_ann_lsh_topk")(spark, sf)
    assert(ann.count() > 0, "ANN produced no candidates — bucketing too fine")
    // every (query, neighbor) ann emits must carry the same cosine x5 computed
    val exact = SparkEntry.queries("x5_cosine_topk")(spark, sf)
      .select($"query_id", $"neighbor_id", $"cos".as("cos_exact"))
    val joined = ann.join(exact, Seq("query_id", "neighbor_id"))
    val bad = joined.filter(abs($"cos" - $"cos_exact") > 1e-12)
    assert(bad.isEmpty, "ANN cosine drifted from exact")
  }

  test("x16b star rewrites reproduce x16's clusters exactly") {
    val lp = SparkEntry.queries("x16_dedup_clusters")(spark, sf).collect().toSeq
    val star = SparkEntry.queries("x16b_dedup_clusters_star")(spark, sf).collect().toSeq
    assert(star === lp)
  }

  test("x16b converges on a diameter-20 chain (where 8-round propagation cannot)") {
    // a path graph 0-1-2-...-20: one component, diameter 20. Fixed-depth
    // one-hop label propagation needs 20 rounds; the star alternation
    // collapses it in O(log n). This is exactly the shape (chains of
    // pairwise near-dups) that motivates x16b at petabyte scale.
    val n = 21
    val chain = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("u", "v")
    var edges = chain.union(chain.select($"v", $"u")).toDF("u", "v").distinct()
    var rounds = 0
    var converged = false
    while (!converged && rounds < 10) {
      rounds += 1
      val next = Dedup.starDoubleRound(edges).localCheckpoint()
      converged = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      edges = next
    }
    assert(converged, "star alternation did not converge in 10 double-rounds")
    assert(rounds <= 6, s"expected O(log n) convergence, took $rounds")
    val labels = edges.groupBy($"u").agg(min($"v").as("mn"))
      .select($"u", least($"mn", $"u").as("c"))
    assert(labels.select($"c").distinct().as[Long].collect().toSeq === Seq(0L))
    assert(labels.count() === n)
  }

  test("x16 and x16b return empty (not throw) on a corpus with no near-dup pair") {
    // a synthesized documents table of fully disjoint texts: zero edges.
    // x16b's fingerprint aggregates over an empty frame (bit_xor → NULL),
    // which must decode cleanly, and both operators must yield 0 rows.
    val dir = java.nio.file.Files.createTempDirectory("graft-nodup").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu"))
      .toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    assert(SparkEntry.queries("x16_dedup_clusters")(spark, dir).count() === 0)
    assert(SparkEntry.queries("x16b_dedup_clusters_star")(spark, dir).count() === 0)
  }

  test("x173 duplication spectrum: crafted multiplicities land in the right strata") {
    // 3 singletons, one pair, one triple: spectrum rows (1,3), (2,1), (3,1)
    val dir = java.nio.file.Files.createTempDirectory("graft-spectrum").toString
    val docs = Seq(
      (1L, "unique one"), (2L, "unique two"), (3L, "unique three"),
      (4L, "pair text"), (5L, "pair text"),
      (6L, "triple text"), (7L, "triple text"), (8L, "triple text"))
    docs.map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    val got = SparkEntry.queries("x173_dup_spectrum")(spark, dir)
      .select($"copies", $"n_groups", $"n_docs", $"chars_total",
        $"docs_removed_by_dedup")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 3L, 3L, docs.take(3).map(_._2.length.toLong).sum, 0L),
      (2L, 1L, 2L, 2L * "pair text".length, 1L),
      (3L, 1L, 3L, 3L * "triple text".length, 2L)))
  }

  test("x134: a fully-quoted short doc is containment-caught where Jaccard misses it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contain").toString
    val short = "q1 q2 q3 q4 q5"
    val long = short + " " + (1 to 30).map(i => s"f$i").mkString(" ")
    Seq((1L, short), (2L, long), (3L, "x1 x2 x3 x4 x5 x6"))
      .toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    val got = ext.Dedup.containmentPairs.fn(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got.size === 1)
    val p = got.head
    // every shingle of the short doc appears in the long one
    assert((p._1, p._2) === ((1L, 2L)) && p._6 === 1.0)
    assert(p._8 < 0.5, s"jac ${p._8} should be under the x4 threshold")
    // and x4 indeed does NOT report the pair — containment is the only
    // detector that sees the quote
    val jacPairs = ext.Dedup.jaccardPairs.fn(spark, dir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!jacPairs.contains((1L, 2L)))
  }

  test("x32 LSH dedup pairs are a subset of exact x14 with useful recall") {
    val lsh = SparkEntry.queries("x32_embedding_dedup_lsh")(spark, sf)
      .select($"keep_id", $"dup_id")
    val exact = SparkEntry.queries("x14_embedding_dedup")(spark, sf)
      .select($"keep_id", $"dup_id")
    // soundness: every LSH-verified pair is an exact pair (the verify
    // stage is the same cosine threshold)
    assert(lsh.exceptAll(exact).isEmpty, "x32 emitted a pair x14 does not have")
    // recall: bucket-mate candidates must find a non-trivial share of
    // the exact pairs (isotropic synthetic embeddings make LSH recall
    // inherently weak — this pins 'useful', not 'near-1.0')
    val recall = lsh.count().toDouble / exact.count().max(1L)
    assert(recall > 0.10, s"x32 recall collapsed: $recall")
  }

  test("x6 multi-probe strictly improves candidate recall over single-probe") {
    // same tables, same bits — the only change is each query also probing
    // its bucket's 1-bit neighbors, so the candidate set is a superset and
    // must recover strictly more of x5's true top-5 pairs on this corpus
    val e = Tables.embeddings(spark, sf)
    val truth = SparkEntry.queries("x5_cosine_topk")(spark, sf)
      .select($"query_id", $"neighbor_id")
    val n = truth.count().toDouble
    val single = truth.intersect(
      Similarity.lshCandidates(e, multiProbe = false)).count() / n
    val multi = truth.intersect(
      Similarity.lshCandidates(e, multiProbe = true)).count() / n
    assert(multi > single, s"multi-probe gained no recall: single=$single multi=$multi")
  }

  test("x5 brute-force knn: self excluded, k rows per query, rank contiguous") {
    val knn = SparkEntry.queries("x5_cosine_topk")(spark, sf)
    assert(knn.filter($"query_id" === $"neighbor_id").isEmpty)
    val perQuery = knn.groupBy("query_id").agg(count(lit(1)).as("n"), max("rank").as("mr"))
    assert(perQuery.filter($"n" =!= 5 || $"mr" =!= 5).isEmpty)
  }

  test("x165: sweep structure, S-curve monotonicity, and x2 consistency") {
    val rows = ext.Dedup.lshTuning.fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
      .sortBy(_._2) // by cfg_rows ascending: r = 1 … 32
    assert(rows.map(r => (r._1, r._2)) ===
      Seq((32L, 1L), (16L, 2L), (8L, 4L), (4L, 8L), (2L, 16L), (1L, 32L)))
    rows.foreach { case (b, r, nb, nc, mx, pp, p50) =>
      assert(p50 === 1.0 - math.pow(1.0 - math.pow(0.5, r.toInt), b.toInt))
      assert(nc <= nb)
      assert((mx >= 2L) === (nc >= 1L))
      assert(pp >= nc) // every colliding bucket contributes ≥ 1 pair
    }
    // detection probability strictly decreases as rows-per-band grow;
    // measured probe volume must follow the same direction at the ends
    assert(rows.map(_._7) === rows.map(_._7).sorted.reverse)
    assert(rows.head._6 >= rows.last._6)
    // the registered (8, 4) config's probe volume bounds x2's distinct
    // candidate pairs (probe volume counts per-band duplicates)
    val cfg84 = rows.find(r => r._1 == 8L && r._2 == 4L).get
    val docs = Tables.documents(spark, sf)
    val distinctCands = ext.Dedup.candidatePairs(
      ext.Dedup.signatures(docs)).count()
    assert(distinctCands <= cfg84._6)
  }

  test("x169 crafted: cross-source duplication is charged to the LOSING source") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sav").toString
    Seq( // A: dup pair (10 chars) + unique (4); B: copies A's text, loses
      (1L, "tentencharz", "A"), (2L, "tentencharz", "A"), (3L, "four", "A"),
      (10L, "tentencharz", "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = ext.Dedup.dedupSavings.fn(spark, dir)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") === (("A", 3L, 2L, 26L, 15L, 11.0 / 26)))
    assert(got("B") === (("B", 1L, 0L, 11L, 0L, 1.0)))
  }

  test("x169 real data: mass accounting against x1's survivor count") {
    val got = ext.Dedup.dedupSavings.fn(spark, sf)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (_, n, kept, ct, ck, sv) =>
      assert(kept <= n && ck <= ct)
      assert(sv === (ct - ck).toDouble / ct)
    }
    val survivors = Tables.documents(spark, sf)
      .select(md5($"text")).distinct().count()
    assert(got.map(_._3).sum === survivors)
    assert(got.map(_._2).sum === Tables.documents(spark, sf).count())
  }

  test("x166 crafted: clique + edge give hand-counted wedges/triangles") {
    // 3 identical docs = a jac-1.0 triangle; 2 identical docs = one
    // isolated edge. Edges 4, wedges 3 (triangle corners only),
    // triangles 1 → transitivity 1.0 (every wedge closes).
    val dir = java.nio.file.Files.createTempDirectory("graft-trans").toString
    val t1 = "alpha beta gamma delta epsilon"
    val t2 = "zeta eta theta iota kappa"
    (Seq((1L, t1), (2L, t1), (3L, t1), (10L, t2), (11L, t2)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = ext.Dedup.dedupTransitivity.fn(spark, dir)
      .as[(Long, Long, Long, Long, Option[Double])].collect().head
    assert(r === ((5L, 4L, 3L, 1L, Some(1.0))))
  }

  test("x166 real data: scalar replay of wedges, triangles, and the ratio") {
    val pairs = SparkEntry.queries("x4_jaccard_pairs")(spark, sf)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val deg = pairs.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val tris = (for {
      (a, b) <- pairs; c <- deg.keys
      if c > b && pairs((b, c)) && pairs((a, c))
    } yield (a, b, c)).size.toLong
    val r = ext.Dedup.dedupTransitivity.fn(spark, sf)
      .as[(Long, Long, Long, Long, Option[Double])].collect().head
    assert(r._1 === deg.size.toLong)
    assert(r._2 === pairs.size.toLong)
    assert(r._3 === wedges)
    assert(r._4 === tris)
    if (wedges > 0) assert(r._5 === Some(3.0 * tris / wedges))
  }

  test("x160 crafted: the mislabeled point scores 0, clean clusters score high") {
    // Two tight clusters; one cluster-A point carries a wrong label.
    // ≤ 64 vectors → the md5 panel is EVERY vector, so agreement is
    // exact semantics, not sampling: label-0 points see 4 agreeing
    // neighbors + the mislabel (0.8); the mislabel sees 5 label-0 (0.0);
    // cluster B is unanimous (1.0).
    val dir = java.nio.file.Files.createTempDirectory("graft-knn").toString
    val rows =
      (0 until 6).map(i => (i.toLong,
        Array(1f, 0.01f * (i + 1), 0f, 0f), if (i == 2) 9 else 0)) ++
      (0 until 6).map(i => ((10 + i).toLong,
        Array(0f, 0f, 1f, 0.01f * (i + 1)), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = ext.Similarity.knnLabelAgreement.fn(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size === 12)
    assert(got(2L) === ((9L, 0L, 0.0)))
    (Seq(0L, 1L, 3L, 4L, 5L)).foreach(i => assert(got(i) === ((0L, 4L, 0.8))))
    (10L until 16L).foreach(i => assert(got(i) === ((1L, 5L, 1.0))))
  }

  test("x160 real data: md5 panel membership, exact fraction arithmetic") {
    val got = ext.Similarity.knnLabelAgreement.fn(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.size === 64)
    got.foreach { case (_, _, n, f) =>
      assert(n >= 0L && n <= 5L)
      assert(f === n / 5.0)
    }
    val panel = Tables.embeddings(spark, sf)
      .orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(64)
      .select($"vec_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet === panel)
  }

  test("multimodal decode stub is deterministic and batch-size invariant") {
    val blobs = Multimodal.blobTable(spark, sf).as[(Long, Array[Byte])]
    val a = Multimodal.extractFeatures(blobs, batchSize = 7).collect().sortBy(_.doc_id)
    val b = Multimodal.extractFeatures(blobs.repartition(13), batchSize = 256)
      .collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(f => f.width >= 64 && f.height >= 64 && f.n_bytes > 0))
  }

  test("multimodal decode reads a real PNG: format, dimensions, mean luma") {
    // a genuine 33x17 PNG rendered in-memory: left half gray(120), right
    // half gray(200) — expected Rec.601 luma is the exact pixel average
    val (w, h) = (33, 17)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = if (x < 16) 120 else 200
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    val expectedLuma = (0 until w).map(x => if (x < 16) 120.0 else 200.0).sum / w *
      (0.299 + 0.587 + 0.114)
    // drive it through the full batched Dataset path, mixed with a
    // non-image blob that must fall back to the stub
    val blobs = Seq((1L, png), (2L, "just text".getBytes("UTF-8"))).toDS()
    val feats = Multimodal.extractFeatures(blobs).collect().sortBy(_.doc_id)
    val p = feats(0)
    assert(p.format === "png" && p.width === w && p.height === h)
    assert(math.abs(p.mean_luma - expectedLuma) < 1e-9,
      s"luma ${p.mean_luma} != $expectedLuma")
    assert(p.n_bytes === png.length)
    // the text blob has no image magic → deterministic stub fallback
    assert(feats(1) === Multimodal.decodeStub(2L, "just text".getBytes("UTF-8")))
  }

  test("multimodal frame sampling covers the blob with the right stride") {
    val frames = Multimodal.sampleFrames(Multimodal.blobTable(spark, sf), stride = 64)
    val perDoc = frames.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .join(Multimodal.blobTable(spark, sf)
        .select($"doc_id", octet_length($"media").as("len")), "doc_id")
    val wrong = perDoc.filter($"n" =!= greatest(floor($"len" / 64), lit(1)))
    assert(wrong.isEmpty, wrong.collect().take(3).mkString(","))
  }

  test("x192: binary-slice-then-hex equals hex-then-string-slice (the oracle identity)") {
    // the registered query slices the BINARY column; its oracle slices
    // the hex string — pin the byte-aligned equivalence the oracle rides
    val got = SparkEntry.queries("x192_frame_sample")(spark, sf)
      .as[(Long, Long, String)].collect().toSeq
    val blobs = Multimodal.blobTable(spark, sf)
      .select($"doc_id", hex($"media").as("mhex"))
      .as[(Long, String)].collect().toMap
    assert(got.nonEmpty && got.map(t => (t._1, t._2)).distinct.size === got.size)
    got.foreach { case (id, fno, fhex) =>
      val mhex = blobs(id)
      val start = (fno * Multimodal.FrameStride * 2).toInt
      val expect = mhex.substring(start.min(mhex.length),
        (start + Multimodal.FrameHeader * 2).min(mhex.length))
      assert(fhex === expect, s"doc $id frame $fno")
    }
  }

  test("x133 aHash: one-pixel edit stays in the Hamming ball; opposite pattern leaves it") {
    def png(f: (Int, Int) => Int, w: Int = 64, h: Int = 64): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = png((x, _) => x * 4) // horizontal gradient
    val edited = png((x, y) => if (x == 10 && y == 10) 255 else x * 4)
    val opposite = png((x, _) => 255 - x * 4) // inverted gradient
    val hb = Multimodal.aHash(base)
    val he = Multimodal.aHash(edited)
    val ho = Multimodal.aHash(opposite)
    assert(java.lang.Long.bitCount(hb ^ he) <= 3, "one-pixel edit moved too many bits")
    assert(java.lang.Long.bitCount(hb ^ ho) > 3, "opposite pattern should be far")
    // the banded pair join finds exactly the near pair
    val pairs = graft.ext.Multimodal.phashPairs(
      Seq((1L, hb), (2L, he), (3L, ho)).toDF("doc_id", "ah"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
  }

  test("x133 registered query: byte-identical text blobs pair at Hamming 0") {
    val dir = java.nio.file.Files.createTempDirectory("graft-x133").toString
    val base = ("the quick brown fox jumps over the lazy dog again and then " * 4).trim
    val edited = base.replaceFirst("lazy", "calm") // one-token edit SHIFTS bytes
    Seq((1L, base, "en", "s"),
      (2L, base, "en", "s"),
      (3L, "completely different content with other words entirely here " +
        "nothing shared at all between these strings of text", "en", "s"),
      (4L, edited, "en", "s"))
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.phashDedup.fn(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.contains((1L, 2L, 0L)))
    // the edit realigns every later byte — the 4-gram histogram must
    // still keep the pair inside the Hamming ball (shift robustness)
    assert(got.exists(p => p._1 == 1L && p._2 == 4L && p._3 <= 3L), got.toString)
    assert(!got.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("x192b: planted byte-identical blob pairs at jac 1.0; disjoint blobs never pair") {
    import org.apache.spark.sql.functions.encode
    // three blobs over one 64-byte stride each: 1 and 2 identical, 3
    // disjoint, 4 shares 1's first frame only (prefix) — jac below cut
    val a = ("alpha bravo charlie delta echo foxtrot golf hotel india " * 4).trim
    val b = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec " * 3
    val docs = Seq((1L, a), (2L, a), (3L, b.trim),
        (4L, a.substring(0, 70) + " unrelated tail content here entirely"))
      .toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("media"))
    val got = Multimodal.frameNearDupPairs(docs)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    val p12 = got.head
    assert(p12._3 === p12._4 && p12._4 === p12._5 && p12._6 === 1.0,
      s"identical blobs must share the full frame set: $p12")
  }

  test("x192b: the df cap drops a hub frame shared by every doc") {
    import org.apache.spark.sql.functions.encode
    // every doc starts with the same 64-byte "container header" block;
    // without the cap it would witness all n² pairs
    val header = ("HDR " * 16).trim + " " // 64 bytes
    assert(header.getBytes("UTF-8").length === 64)
    val n = Multimodal.FrameDfCap + 8
    val docs = (1 to n).map { i =>
      (i.toLong, header + s"unique body $i " * 8)
    }.toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("media"))
    val got = Multimodal.frameNearDupPairs(docs).collect()
    assert(got.isEmpty, s"hub frame must not witness pairs: ${got.take(3).mkString(",")}")
  }

  test("x192c: min-id survivor over planted frame-identical blobs; unclustered docs all survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-x192c").toString
    val a = ("alpha bravo charlie delta echo foxtrot golf hotel india " * 4).trim
    val b = ("zulu yankee xray whiskey victor uniform tango sierra romeo quebec " * 3).trim
    Seq((1L, a), (2L, a), (3L, b), (4L, a)) // 1,2,4 byte-identical
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ext.Multimodal.frameDedupSurvivors.fn(spark, dir)
      .as[(Long, Boolean, Boolean)].collect().toSeq
    assert(got === Seq((1L, true, true), (2L, true, false),
      (3L, false, true), (4L, true, false)))
  }

  test("x48: exactly one survivor per cluster; every unclustered doc survives") {
    val out = Dedup.nearDupSurvivors.fn(spark, sf).cache()
    val cl = Dedup.dedupClusters.fn(spark, sf).select($"doc_id", $"cluster_id")
    // per-cluster survivor count is exactly 1
    val perCluster = out.join(cl, "doc_id")
      .groupBy($"cluster_id")
      .agg(sum(when($"survivor", 1L).otherwise(0L)).as("n"))
    assert(perCluster.filter($"n" =!= 1L).isEmpty)
    // unclustered docs all survive, and `clustered` agrees with x16
    assert(out.filter(!$"clustered" && !$"survivor").isEmpty)
    assert(out.filter($"clustered").count() === cl.count())
    // survivor set = corpus minus (cluster members - one per cluster)
    val nClusters = cl.select($"cluster_id").distinct().count()
    val expectSurvivors = out.count() - cl.count() + nClusters
    assert(out.filter($"survivor").count() === expectSurvivors)
    out.unpersist()
  }

  test("x143: identical docs calibrate to band 0 with est = exact = 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-calib").toString
    val t = (1 to 20).map(i => s"w$i").mkString(" ")
    Seq((1L, t), (2L, t), (3L, "z1 z2 z3 z4 z5 z6 z7"))
      .toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    val got = ext.Dedup.minhashCalibration.fn(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    // one candidate pair (the twins): all 32 mins agree, jaccard 1
    assert(got === Seq((0L, 1L, 32L, 18L, 18L, 1.0, 1.0)))
  }

  test("x143 real data: bands equal a per-pair scalar replay") {
    val docs = Tables.documents(spark, sf)
    val sig = ext.Dedup.signatures(docs).localCheckpoint()
    val cand = ext.Dedup.candidatePairs(sig)
    val perPair = ext.Dedup.exactJaccard(cand,
        ext.Dedup.shingleHashesWithCount(docs))
      .join(sig.toDF(sig.columns.map(c => if (c == "doc_id") c else s"a_$c"): _*)
        .withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(sig.toDF(sig.columns.map(c => if (c == "doc_id") c else s"b_$c"): _*)
        .withColumnRenamed("doc_id", "doc_b"), "doc_b")
    val agree = (0 until ext.Dedup.NumHashes)
      .map(j => when(col(s"a_mh$j") === col(s"b_mh$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val pairs = perPair
      .select(col("n_common"), (col("n_a") + col("n_b") - col("n_common")).as("u"),
        agree.as("k"))
      .as[(Long, Long, Long)].collect()
    val expect = pairs.groupBy { case (c, u, k) =>
        (math.abs(k * u - c * 32) * 8) / (32 * u) }
      .map { case (band, rows) =>
        band -> ((rows.length.toLong, rows.map(_._3).sum,
          rows.map(_._1).sum, rows.map(_._2).sum)) }
    val got = ext.Dedup.minhashCalibration.fn(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === expect)
  }

  test("x175 repetition battery: hand-computed on a repetitive vs clean vs symbol-heavy doc") {
    // doc 1: "a b c d e f g h i j" repeated 3x — 30 tokens, 59 chars.
    //   pseudo-lines (w=10): three IDENTICAL lines → dup fractions 1.0;
    //   pseudo-paragraph (w=30): one window → dup fraction 0.
    //   top 2/3/4-grams: "a b"(x3, 3 chars), "a b c"(x3, 5), "a b c d"(x3, 7)
    //   — count ties broken lexicographically. All 26 of the 5-gram
    //   positions repeat (period 10), each 9 chars → 234/59 > 1: overlap
    //   is NOT deduplicated, by documented design.
    // doc 2: 30 distinct tokens — zero repetition on every axis.
    // doc 3: "foo# bar... baz" — 4 chars outside [a-z0-9 ], 3 tokens.
    val rep = (("a b c d e f g h i j " * 3).trim, 1L)
    val clean = ((1 to 30).map(i => s"w$i").mkString(" "), 2L)
    val symb = ("foo# bar... baz", 3L)
    val dir = java.nio.file.Files.createTempDirectory("x175").toString
    Seq(rep, clean, symb).map(_.swap).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x175_repetition_quality")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L)
    assert(r1.getAs[Long]("n_lines") == 3L)
    assert(r1.getAs[Double]("dup_line_frac") == 1.0)
    assert(r1.getAs[Double]("dup_line_char_frac") == 1.0)
    assert(r1.getAs[Double]("dup_para_frac") == 0.0)
    assert(r1.getAs[Double]("top2_share") == 9.0 / 59)
    assert(r1.getAs[Double]("top3_share") == 15.0 / 59)
    assert(r1.getAs[Double]("top4_share") == 21.0 / 59)
    assert(r1.getAs[Double]("dup5_char_frac") == 234.0 / 59)
    assert(r1.getAs[Double]("symbol_ratio") == 0.0)
    val r2 = rows(2L)
    assert(r2.getAs[Long]("n_lines") == 3L)
    assert(r2.getAs[Double]("dup_line_frac") == 0.0)
    assert(r2.getAs[Double]("dup_para_frac") == 0.0)
    assert(r2.getAs[Double]("dup5_char_frac") == 0.0)
    // every 2-gram is unique → top share is ONE occurrence of the
    // lexicographically-first bigram "w1 w2" (5 chars)
    assert(r2.getAs[Double]("top2_share") == 5.0 / clean._1.length)
    assert(rows(3L).getAs[Double]("symbol_ratio") == 4.0 / 3)
  }

  test("x170b gate: a repetitive survivor is gated out of the mixture and reported as telemetry") {
    // src a: doc 1 repeats one 10-token pseudo-line 3x (dup frac 1.0 >
    // 3/10 → GATED), doc 2 clean. src b: docs 3/4 are exact duplicates
    // (doc 4 removed by DEDUP, before the gate). One lang → rate 1.0, so
    // every clean survivor is resampled; the gated doc must vanish from
    // the resampled mass but stay inside n_kept (gate ≠ dedup).
    val rep = ("a b c d e f g h i j " * 3).trim
    val clean2 = (1 to 12).map(i => s"u$i").mkString(" ")
    val clean3 = (1 to 12).map(i => s"v$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("x170b").toString
    Seq(
      (1L, rep, "en", "a", rep.length.toLong),
      (2L, clean2, "en", "a", clean2.length.toLong),
      (3L, clean3, "en", "b", clean3.length.toLong),
      (4L, clean3, "en", "b", clean3.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x170b_mix_design_gated")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = rows("a")
    assert(a.getAs[Long]("n_kept") == 2L, "gate must not affect dedup")
    assert(a.getAs[Long]("docs_gated") == 1L)
    assert(a.getAs[Long]("chars_gated") == rep.length.toLong)
    assert(a.getAs[Long]("docs_resampled") == 1L)
    assert(a.getAs[Long]("chars_resampled") == clean2.length.toLong)
    val b = rows("b")
    assert(b.getAs[Long]("n_kept") == 1L && b.getAs[Long]("dup_within") == 1L)
    assert(b.getAs[Long]("docs_gated") == 0L)
    assert(b.getAs[Long]("chars_resampled") == clean3.length.toLong)
    // mixture weights renormalize over the GATED resampled mass
    assert(a.getAs[Double]("mix_weight") ==
      clean2.length.toDouble / (clean2.length + clean3.length))
  }

  test("x176 C4 battery: hand-computed line census, page flags, and keep verdict") {
    // d1: 12 tokens → lines (10, 2): the 2-token remainder is short.
    // d2: 35 distinct tokens → lines (10,10,10,5), all kept → keep.
    // d3: blocklist token "dup" in the 2nd line → page dropped.
    // d4: "{" anywhere → C4 code heuristic drops the page.
    // d5: literal "lorem ipsum" → placeholder heuristic drops the page.
    // d6: lines ending "." / "!" / bare word → punct census 2 of 3.
    val d1 = (1 to 12).map(i => s"t$i").mkString(" ")
    val d2 = (1 to 35).map(i => s"w$i").mkString(" ")
    val d3 = (1 to 30).map(i => if (i == 15) "dup" else s"u$i").mkString(" ")
    val d4 = (1 to 30).map(i => if (i == 1) "{x" else s"v$i").mkString(" ")
    val d5 = "lorem ipsum " + (3 to 30).map(i => s"p$i").mkString(" ")
    val d6 = (1 to 30).map {
      case 10 => "end."; case 20 => "yes!"; case i => s"q$i"
    }.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("x176").toString
    Seq(d1, d2, d3, d4, d5, d6).zipWithIndex
      .map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x176_c4_quality")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String) = rows(id).getAs[Long](c)
    assert(f(1, "n_lines") == 2 && f(1, "short_lines") == 1 &&
      f(1, "kept_lines") == 1 && f(1, "keep") == 0)
    assert(rows(1L).getAs[Double]("kept_frac") == 0.5)
    assert(f(2, "n_lines") == 4 && f(2, "short_lines") == 0 &&
      f(2, "kept_lines") == 4 && f(2, "keep") == 1)
    assert(f(3, "block_lines") == 1 && f(3, "kept_lines") == 2 && f(3, "keep") == 0)
    assert(f(4, "has_brace") == 1 && f(4, "keep") == 0)
    assert(f(5, "has_lorem") == 1 && f(5, "keep") == 0)
    assert(f(6, "punct_lines") == 2 && f(6, "kept_lines") == 3 && f(6, "keep") == 1)
  }

  test("x181 filter ablation: hand-computed drop sets, intersections and Jaccards") {
    // d1: 3 identical pseudo-lines → gopher drop AND uniq drop (10/30
    //     distinct) — the two filters AGREE on this doc.
    // d2: 12 tokens → short drop AND c4 drop (1 kept line < 3).
    // d3: 35 distinct tokens → clean everywhere.
    // d4: blocklist token in-line → c4 drop only (30/30 distinct, long enough).
    val d1 = ("a b c d e f g h i j " * 3).trim
    val d2 = (1 to 12).map(i => s"t$i").mkString(" ")
    val d3 = (1 to 35).map(i => s"w$i").mkString(" ")
    val d4 = (1 to 30).map(i => if (i == 15) "dup" else s"u$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("x181").toString
    Seq(d1, d2, d3, d4).zipWithIndex.map { case (t, i) => (i + 1L, t) }
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("x181_filter_ablation")(spark, dir)
      .collect().map(r =>
        (r.getAs[String]("filter_a"), r.getAs[String]("filter_b")) -> r).toMap
    assert(rows.size == 6)
    rows.values.foreach(r => assert(r.getAs[Long]("n_docs") == 4L))
    def pin(a: String, b: String, na: Long, nb: Long, both: Long, jac: Any): Unit = {
      val r = rows((a, b))
      assert(r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb, s"$a/$b counts")
      assert(r.getAs[Long]("n_both") == both, s"$a/$b intersection")
      assert(r.getAs[Long]("n_union") == na + nb - both, s"$a/$b union")
      assert(r.getAs[Any]("jaccard") == jac, s"$a/$b jaccard")
    }
    pin("c4", "gopher", 2, 1, 0, 0.0)
    pin("c4", "short", 2, 1, 1, 0.5)
    pin("c4", "uniq", 2, 1, 0, 0.0)
    pin("gopher", "short", 1, 1, 0, 0.0)
    pin("gopher", "uniq", 1, 1, 1, 1.0)
    pin("short", "uniq", 1, 1, 0, 0.0)
    // all-clean corpus: every union is empty → Jaccard is NULL, not NaN
    val dir2 = java.nio.file.Files.createTempDirectory("x181b").toString
    Seq((1L, d3), (2L, (36 to 70).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir2/documents.parquet")
    SparkEntry.queries("x181_filter_ablation")(spark, dir2).collect()
      .foreach(r => assert(r.isNullAt(r.fieldIndex("jaccard"))))
  }
}
