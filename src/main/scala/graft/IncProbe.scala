package graft

import graft.streaming.{AggView, BitmapFeed, BlockDedupFeed, Cdc, CmsFeed, DsirFeed,
  FrontendFeed, HoltFeed, KmvFeed, LmFeed, MinHashFeed, PqIndexFeed, TrailingFeed}
import graft.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-operator scaling probe (`runMain graft.IncProbe
  * [factors] [sections]`) — the round-8 companion to [[ScaleProbe]].
  * ScaleProbe measures batch throughput vs CORPUS size; this probe
  * measures PER-INCREMENT cost vs ACCUMULATED HISTORY — the claim that
  * makes incremental ingestion worth having ("only the increment pays",
  * not "every batch re-pays for the corpus"). For each factor f (a
  * comma-separated list, parsed as ScaleProbe parses it, default
  * 1,4,10): seed f history units into the operator's store, then time
  * applying ONE FIXED-SIZE batch. A flat curve means increment cost is
  * bounded by the batch, not the history; the bucket-pruned stores
  * (BlockDedupFeed round 8, Cdc/AggView since round 6) are what make it
  * flat — each batch reads only the bucket slice its keys hash into.
  *
  * Two fixed-work probes ride along (both round-8 judge tasks):
  *  - BPE merge-loop DEPTH: train at M ∈ {8, 64, 256} on the 10×
  *    corpus; per-round cost must stay flat because every round runs on
  *    the word table, never the corpus (`ext/Bpe.scala`).
  *  - bounded probe selection at LARGE K: `SemDedup.probeTable` at
  *    K = 1,000 cells (cellBits 10) — the O(NProbe)-state aggregation
  *    must absorb a 100× larger quantizer without per-row state blowup
  *    (`Ivf.BoundedMinN`; the round-7 collect-all-K form was O(K)).
  *
  * History units reuse ScaleProbe's bijective constructions (token
  * rename / key shift), so every copy is an isomorphic replica in a
  * disjoint key space and increments never collide with history. */
object IncProbe {

  private def emit(op: String, factor: Int, sec: Double, extra: String): Unit =
    println(s"""{"probe":"inc","op":"$op","factor":$factor,"sec":${Bench.fmt(sec)}$extra}""")

  def main(args: Array[String]): Unit = {
    // Optional 2nd arg: comma-separated section filter
    // (bdf,cdc,aggview,pqfeed,kmv,cms,bitmap,trailing,holt,lmfeed,dsirfeed,
    // minhash,ffeed,bpe,probek) for fast re-probe of one.
    val only = args.lift(1).map(_.split(",").toSet)
    def section(name: String)(body: => Unit): Unit =
      if (only.forall(_.contains(name))) body
    val spark = Session(Session.cores)
    import spark.implicits._
    val base = "/root/testdata/sf0.1"

    /** One history curve. For each factor f: clear the section's
      * directory, `seed` f history units into it, run one warm batch,
      * time one batch, emit one line. `seed(dir, f)` returns what the
      * batches read; `batch(state, dir, f, i)` runs batch i, 0 the warm
      * one and 1 the timed one, each with its own fresh keys; `extra`
      * reads the state after the timed batch for the line's own keys. */
    def curve[S](name: String, op: String)(seed: (String, Int) => S)(
        batch: (S, String, Int, Int) => Unit)(extra: S => String): Unit =
      section(name) { ScaleProbe.factors(args).foreach { f =>
        val dir = s"/tmp/graft-inc-$name-$f"
        AggView.deleteDir(spark, dir)
        val state = seed(dir, f)
        batch(state, dir, f, 0)
        emit(op, f, Bench.time(batch(state, dir, f, 1)), extra(state))
      } }
    val none = (_: Any) => ""
    // The warm and timed batches' tags.
    def tag(f: Int, i: Int) = s"${"wt" (i)}$f"

    // ---- BlockDedupFeed: span-dedup increment vs index history --------
    // History unit = the 5k-doc corpus, token-renamed per copy (disjoint
    // blocks). Timed batch = 20 fresh docs (~200 blocks) — the "daily
    // drop ≪ corpus" regime bucket pruning exists for. 1,024 buckets;
    // compacted after seeding (the LSM posture: appends O(batch), a
    // maintenance pass bounds files-read).
    val docs = Tables.documents(spark, base)
    def renamed(tag: String): DataFrame =
      docs.select(col("doc_id"), array_join(transform(split(col("text"), " "),
        t => concat(t, lit(s"_$tag"))), " ").as("text"))
    def freshBatch(tag: String): DataFrame =
      spark.range(20).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 100).map(i => concat(lit(s"fb${tag}w${i}x"), col("id"))): _*).as("text"))
    curve("bdf", "blockdedup_apply") { (dir, f) =>
      (0 until f).foreach { k =>
        Bench.sink(BlockDedupFeed.applyBatch(renamed(s"h$k"), dir, numBuckets = 1024))
      }
      BlockDedupFeed.compact(spark, dir)
    } { (_, dir, f, i) =>
      Bench.sink(BlockDedupFeed.applyBatch(freshBatch(tag(f, i)), dir))
    }(none)

    // ---- Cdc: MERGE increment vs snapshot history ---------------------
    // History unit = the sf0.1 orders table, key-shifted per copy.
    // Timed batch = 100 updated images of copy-0 keys. CONSTANT
    // OCCUPANCY: each factor's store is created with 64·f buckets (the
    // same growth rule SemDeDup adopted this round — store partitions
    // scale with the snapshot, so bucket size stays ~2.3k rows at every
    // f). A 100-key batch then reads ≤100 constant-size buckets back:
    // cost is bounded by batch-key-count × occupancy, independent of
    // history. (The first probe of this round seeded every factor at a
    // FIXED 256 buckets and measured 5.1/9.9/27.4s at 1×/4×/10× — the
    // linear curve is exactly the occupancy growing with history, the
    // defect the growth rule removes.)
    // mod 1499 over the 150k-order base ≈ 100 keys. (Rounds 8–10 used
    // mod 149 ≈ 1,000 keys — at 64·f buckets that batch touched MOST
    // of the store at every factor (504/640 dirs at 10×), so the row
    // measured bulk-rewrite throughput, not the trickle regime the
    // bucket pruning + manifest exist for, and raw walls crept with
    // the touched-bucket saturation curve rather than history.)
    def images(seed: Int) = Tables.orders(spark, base)
      .filter(pmod(col("o_orderkey") + seed, lit(1499L)) === 0) // ~100 keys
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    curve("cdc", "cdc_merge") { (dir, f) =>
      (0 until f).foreach { k =>
        val copy = ScaleProbe.scaledOrders(spark, base, k + 1)
          .filter(col("o_orderkey") >= k * 100000000L)
        Cdc.mergeIntoStore(copy, dir, Seq("o_orderkey"), "o_orderdate", numBuckets = 64 * f)
      }
      f
    } { (_, dir, _, i) =>
      Cdc.mergeIntoStore(images(i + 1), dir, Seq("o_orderkey"), "o_orderdate")
    } { f =>
      // The fixed 100-key batch touches min(~100, buckets·(1−e^{−100/buckets}))
      // DISTINCT buckets — ≤64 at 1× history, ~97 at 10× (key-collision
      // saturation), so the RAW wall rises ~1.5× across factors even
      // when per-touched-bucket cost is flat. Emit the touched count so
      // the flat claim ("cost follows the batch's touched buckets, not
      // history") is checkable from the JSON line directly.
      val touched = images(2)
        .select(pmod(xxhash64(col("o_orderkey")), lit((64L * f))).cast("int"))
        .distinct().count()
      s""","touched_buckets":$touched"""
    }

    // ---- AggView: incremental grouped view vs base history ------------
    // History unit = 15k keyed images over a 100-group domain. Timed
    // batch = 200 fresh-key images: deltas touch ≤ 200 keys' buckets in
    // the base and ≤ 100 groups in the view.
    def imgs(keyLo: Long, n: Int, seq: Long) =
      spark.range(keyLo, keyLo + n).select(col("id").as("k"),
        concat(lit("g"), pmod(col("id"), lit(100L))).as("g"),
        (col("id") % 1000L).as("v"), lit(seq).as("seq"))
    curve("aggview", "aggview_merge") { (dir, f) =>
      (0 until f).foreach { k =>
        AggView.mergeWithView(imgs(k * 1000000L, 15000, k + 1), s"$dir/store", s"$dir/view",
          Seq("k"), "seq", Seq("g"), Seq("v"), numBuckets = 64)
      }
    } { (_, dir, _, i) =>
      AggView.mergeWithView(imgs(900000000L + i * 10000000L, 200, 1000L + i),
        s"$dir/store", s"$dir/view", Seq("k"), "seq", Seq("g"), Seq("v"))
    }(none)

    // ---- PqIndexFeed: encode increment vs code-store history ----------
    // History unit = the 2k sf0.1 embeddings, vec_id-shifted per copy.
    // Timed batch = 100 fresh vectors. The encode stage reads NO history
    // by construction (frozen-codebook broadcast join over the batch);
    // the only history touch is the replay anti-join against ≤100
    // touched buckets — the flattest possible incremental shape.
    def vectors(seed: Long) = spark.range(100).select(
      (col("id") + 900000000L + seed * 1000L).as("vec_id"),
      transform(sequence(lit(1), lit(graft.ext.Ivf.Dim)),
        i => pmod(xxhash64(col("id") * lit(seed), i), lit(1000L)).cast("float") / 500.0f - 1.0f)
        .as("embedding"))
    curve("pqfeed", "pqfeed_apply") { (dir, f) =>
      PqIndexFeed.init(ScaleProbe.scaledEmbeddings(spark, base, 1), dir)
      (1 until f).foreach { k =>
        PqIndexFeed.applyBatch(ScaleProbe.scaledEmbeddings(spark, base, k + 1)
          .filter(col("vec_id") >= k * 100000000L), dir)
      }
    } { (_, dir, _, i) =>
      Bench.sink(PqIndexFeed.applyBatch(vectors(i + 1), dir))
    }(none)

    // ---- Folded stores: one parquet store per section ------------------
    // The kmv, cms, bitmap, trailing and holt stores are frames folded
    // through their feed's applyBatch, one history unit at a time, and
    // read back from parquet after each fold.
    def fold(dir: String, empty: DataFrame, units: Seq[DataFrame],
        apply: (DataFrame, DataFrame) => DataFrame): DataFrame =
      units.foldLeft(empty) { (store, unit) =>
        apply(store, unit).write.mode("overwrite").parquet(s"$dir/store.parquet")
        spark.read.parquet(s"$dir/store.parquet")
      }
    // History unit k = the sf0.1 events (10k rows), user-shifted to copy k
    // (each unit contributes 150 fresh users per type).
    def eventCopy(k: Int) = ScaleProbe.scaledEvents(spark, base, k + 1)
      .filter(col("user_id") >= k * 100000000L) // copy k only
    // Fresh batches reuse the store's REAL event_type values, so a timed
    // applyBatch exercises the MERGE path (new users folding into
    // existing per-type state) — disjoint t0..t4 types would time
    // fresh-key creation plus store pass-through instead, a weaker claim
    // than the merge-increment one.
    lazy val storeTypes = Tables.events(spark, base)
      .select(col("event_type")).distinct().as[String].collect().sorted
    def freshEvents(seed: Long, userOff: Long, lead: Column*): DataFrame =
      spark.range(2000).select(lead ++ Seq(
        (col("id") * 7919L + seed * 1000000L + userOff).as("user_id"),
        element_at(
          array(storeTypes.map(lit): _*),
          (pmod(col("id"), lit(storeTypes.length.toLong)) + 1).cast("int")
        ).as("event_type")): _*)

    // ---- KmvFeed / CMS feed / BitmapFeed: merge vs event history -------
    // Timed batch = 2,000 fresh-user events.
    //  - kmv: the degenerate best case of the incremental family: the
    //    store after ANY history is ≤ 5 keys × 32 longs, so the batch cost
    //    CANNOT grow with history — the mergeable-sketch contract the
    //    KmvFeed scaladoc states, where BlockDedupFeed/Cdc must engineer
    //    bucket pruning to approximate it.
    //  - cms: the store is ≤ 5 types × 48 cell rows (counters, not keys),
    //    so like kmv the degenerate best case — the timed batch exercises
    //    the vector-ADD path into cells every history unit has touched.
    //  - bitmap: the EXACT end of the kmv/cms trade: the store grows with
    //    distinct users / 64 (one long per occupied word), so the history
    //    axis DOES grow state — the claim under test is that the
    //    per-batch cost rides the TOUCHED words (batch-sized), not the
    //    store width: the merge is one (type, word) hash agg whose store
    //    side is a column-pruned scan.
    Seq[(String, String, DataFrame, (DataFrame, DataFrame) => DataFrame)](
      ("kmv", "kmvfeed_apply",
        Seq.empty[(String, Array[Long])].toDF("event_type", "mins"), KmvFeed.applyBatch),
      ("cms", "cmsfeed_apply",
        Seq.empty[(String, Long, Long)].toDF("event_type", "idx", "c"), CmsFeed.applyBatch),
      ("bitmap", "bitmapfeed_apply",
        Seq.empty[(String, Long, Long)].toDF("event_type", "word_idx", "word"), BitmapFeed.applyBatch)
    ).foreach { case (name, op, empty, apply) =>
      curve(name, op) { (dir, f) =>
        fold(dir, empty, (0 until f).map(eventCopy), apply)
      } { (store, _, _, i) =>
        Bench.sink(apply(store, freshEvents(i + 1, 900000000L)))
      }(none)
    }

    // ---- TrailingFeed: rolling-WAU increment vs stream AGE ------------
    // History unit = the full sf0.1 event log time-shifted 8 weeks
    // forward per epoch, so after f epochs the stream has covered ~8f
    // calendar weeks. The claim under test is RETIREMENT: the store
    // holds only the trailing WindowWeeks weeks no matter how long the
    // stream has run, so a fresh batch's merge cost must be FLAT in f —
    // the property an unbounded BitmapFeed store cannot offer.
    def shiftedEvents(k: Int, byUs: Long) = Tables.events(spark, base)
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(k * byUs)))
    curve("trailing", "trailingfeed_apply") { (dir, f) =>
      val store = fold(dir, TrailingFeed.emptyStore(spark),
        (0 until f).map(shiftedEvents(_, 8L * 604800L * 1000000L)), TrailingFeed.applyBatch)
      (store, store.agg(max(col("wk"))).as[java.sql.Date].head().getTime * 1000L)
    } { case ((store, hwUs), _, _, i) =>
      // fresh events land inside the retained window (high-water week)
      Bench.sink(TrailingFeed.applyBatch(store, freshEvents(i + 1, 0L,
        timestamp_micros(lit(hwUs) + col("id") * 1000000L).as("ts"))))
    } { case (store, _) =>
      s""","weeks_held":${store.select(col("wk")).distinct().count()}"""
    }

    // ---- HoltFeed: smoother state vs accumulated history --------------
    // The analytic best case alongside kmv/cms: ALL history collapses
    // into (level, trend) — 5 columns per key forever — so the timed
    // fresh batch (the next 30 complete days, reusing the store's real
    // event types so the advance path is what the timer sees) must cost
    // the same after 10 folded months as after one.
    val monthUs = 31L * 86400L * 1000000L
    curve("holt", "holtfeed_apply") { (dir, f) =>
      fold(dir, Seq.empty[(String, java.sql.Date, Long, Long, Long, Long)]
          .toDF("event_type", "last_day", "l", "b", "n_days", "n_ignored"),
        (0 until f).map(shiftedEvents(_, monthUs)), HoltFeed.applyBatch)
    } { (store, _, f, _) =>
      Bench.sink(HoltFeed.applyBatch(store, shiftedEvents(f, monthUs)))
    } { store =>
      s""","days_held":${store.agg(sum(col("n_days"))).as[Long].head()}"""
    }

    // ---- LmFeed: LM count ingest vs accumulated count history ---------
    // History unit = the 5k-doc corpus, token-renamed per copy (disjoint
    // vocabulary, so state genuinely GROWS ~linearly with f — the
    // adversarial case for a count store, unlike kmv/cms's bounded
    // sketches). Timed batch = 20 fresh docs with fresh tokens. The
    // claim: ingest aggregates the BATCH and appends its partials —
    // history is never read (the only history touch is the touched-
    // bucket manifest snapshot, O(touched-buckets) listings) — so the
    // curve must be flat while the store's key space grows 10×.
    // Compacted after seeding (the LSM posture, as bdf).
    curve("lmfeed", "lmfeed_ingest") { (dir, f) =>
      (0 until f).foreach { k =>
        LmFeed.ingest(spark, dir, renamed(s"h$k"), k, numBuckets = 64)
      }
      LmFeed.compact(spark, dir)
      dir
    } { (_, dir, f, i) =>
      LmFeed.ingest(spark, dir, freshBatch(tag(f, i)), f.toLong + i)
    } { dir => s""","vocab":${LmFeed.uniCounts(spark, dir).count()}""" }

    // ---- DsirFeed: importance-selection state vs corpus history -------
    // History unit = the 5k-doc corpus, token-renamed (disjoint feature
    // mass) and doc_id-shifted per copy (the doc-once contract). Timed
    // batch = 20 fresh docs. The claim: ingest aggregates the BATCH into
    // three O(batch)-sized partials (bucket counts bounded at 256 rows,
    // per-doc facts, universe ids) and appends — history is never read,
    // so the curve must be flat while the ingested corpus grows 10×.
    // (The SELECTED view is corpus-sized on read by DSIR's semantics —
    // a new batch re-ranks everything — which is exactly the batch
    // operator's cost; the feed makes the STATE incremental.)
    val langs = docs.select(col("doc_id"), col("lang"))
    curve("dsirfeed", "dsirfeed_ingest") { (dir, f) =>
      def hist(k: Int): DataFrame = renamed(s"h$k").join(langs, "doc_id")
        .select((col("doc_id") + k.toLong * 1000000000L).as("doc_id"),
          col("text"), col("lang"))
      (0 until f).foreach(k => DsirFeed.ingest(spark, dir, hist(k), k, numBuckets = 64))
      DsirFeed.compact(spark, dir)
      dir
    } { (_, dir, f, i) =>
      DsirFeed.ingest(spark, dir, freshBatch(tag(f, i))
        .select((col("doc_id") + 900000000000L + i * 10000000000L).as("doc_id"),
          col("text"), lit("en").as("lang")), f.toLong + i)
    } { dir => s""","feature_buckets":${DsirFeed.bucketCounts(spark, dir).count()}""" }

    // ---- MinHashFeed: near-dup ingest vs band/shingle-index history ---
    // History unit = the 5k-doc corpus, token-renamed AND doc_id-shifted
    // per copy (disjoint shingles and unique ids — the feed's doc-once
    // contract). Timed batch = 20 docs: 10 fresh-vocab (probe-only path)
    // + 10 near-dup copies of history docs (the probe → verify → pair
    // path actually fires). 1,024 buckets, compacted after seeding (the
    // bdf LSM posture). The claim: the batch signs itself, probes ONLY
    // its bands' touched buckets, and verifies only implicated docs'
    // shingle sets — so the curve follows the touched slice, not
    // history.
    def idShifted(df: DataFrame, k: Int): DataFrame =
      df.select((col("doc_id") + k.toLong * 1000000000L).as("doc_id"), col("text"))
    curve("minhash", "minhash_ingest") { (dir, f) =>
      (0 until f).foreach { k =>
        MinHashFeed.ingest(spark, dir, idShifted(renamed(s"h$k"), k), k, numBuckets = 1024)
      }
      MinHashFeed.compact(spark, dir)
      dir
    } { (_, dir, f, i) =>
      val k = 40 + i
      val mixed = freshBatch(tag(f, i))
        .select((col("doc_id") + k.toLong * 1000000000L + 500000000L).as("doc_id"),
          col("text"))
        .unionByName(idShifted(renamed("h0"), k).filter(col("doc_id") % 500 === 0)
          .select((col("doc_id") + 250000000L).as("doc_id"), col("text")))
      MinHashFeed.ingest(spark, dir, mixed, f.toLong + i)
    } { dir => s""","pairs_held":${MinHashFeed.pairs(spark, dir).count()}""" }

    // ---- FrontendFeed: composed front-end ingest vs crawl history -----
    // The deployment shape: the benchmark suite (holdout) is seeded ONCE
    // and stays fixed; crawl drops are TRAIN docs (doc-once, renamed +
    // id-shifted per unit so state genuinely grows ~linearly with f).
    // Timed batch = 20 fresh train docs. The claim: a crawl drop's
    // ingest cost follows the drop and the FIXED benchmark suite — the
    // slim scan, gate verdicts, md5, trigram explode × the fixed hold
    // set, and bigram partials are all batch-sized; the grams store is
    // written, never read (only a BENCHMARK drop's truly-new grams probe
    // it, bucket-pruned) — so the curve must be flat while the ingested
    // crawl grows 10×. (The schedule READ is corpus-sized by x187's
    // composed semantics — a new batch can move every doc's DSIR rank —
    // exactly the batch operator's own cost; the feed makes the STATE
    // incremental, the DsirFeed contract.)
    val trainPred = !substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")
    curve("ffeed", "frontendfeed_ingest") { (dir, f) =>
      // batch 0: the fixed benchmark suite (the corpus' holdout slice)
      FrontendFeed.ingest(spark, dir,
        Tables.documents(spark, base).filter(!trainPred)
          .select(col("doc_id"), col("source"), col("lang"), col("text")),
        0, numBuckets = 64)
      // batches 1..f: train-only crawl units, renamed + id-shifted
      def unit(k: Int): DataFrame = renamed(s"h$k").join(langs, "doc_id")
        .filter(trainPred)
        .select((col("doc_id") + k.toLong * 1000000000L).as("doc_id"),
          lit(s"crawl$k").as("source"), col("lang"), col("text"))
      (1 to f).foreach(k => FrontendFeed.ingest(spark, dir, unit(k), k, numBuckets = 64))
      FrontendFeed.compact(spark, dir)
    } { (_, dir, f, i) =>
      FrontendFeed.ingest(spark, dir, freshBatch(tag(f, i))
        .select((col("doc_id") + 900000000000L + i * 10000000000L).as("doc_id"),
          lit("drop").as("source"), lit("en").as("lang"), col("text"))
        .filter(trainPred), f.toLong + 1 + i)
    }(none)

    // ---- BPE depth: merge rounds at fixed corpus ----------------------
    // The 10× renamed corpus (≈ 10× vocabulary) gives the pair inventory
    // depth for 256 rounds; per-round cost must stay flat because each
    // round runs on the word table only.
    section("bpe") {
      val corpus10 = ScaleProbe.corpus(spark, base, 10).materialized
      Seq(8, 64, 256).foreach { m =>
        val (words, tops) = graft.ext.Bpe.train(corpus10, m) // includes warm JIT from prior sizes
        val sec = Bench.time {
          val (w2, t2) = graft.ext.Bpe.train(corpus10, m)
          Bench.sink(w2)
          assert(t2.size == m)
        }
        assert(tops.size == m)
        Materialize.release(words)
        emit("bpe_train", m, sec, s""","sec_per_round":${Bench.fmt(sec / m, 4)}""")
      }
    }

    // ---- Bounded probe selection at K = 1,000 -------------------------
    // 2,000 sf0.1 vectors, c = 2 → K = 1,000 cells (cellBits 10): the
    // probe-SELECTION stage (Ivf.topNCells — the one-pass bounded-heap
    // aggregation this round replaced the collect-all-K form with) must
    // absorb a ~7× larger quantizer with O(NProbe) per-vector state.
    // Centroid TRAINING is a one-time model-build cost, not per-probe —
    // it runs outside the timer (the first probe of this round timed the
    // whole pipeline and read 74.8s, almost all of it Lloyd iterations
    // at K=1,000). Compute necessarily grows ~K (N·K distance evals);
    // the bounded aggregation keeps per-row STATE at O(NProbe), so the
    // K ratio is the expected ceiling on the time ratio.
    section("probek") {
      val emb = Tables.embeddings(spark, base)
      val vq = graft.ext.Ivf.quantized(emb).materialized
      val bigK = graft.ext.SemDedup.cellsFor(emb.count(), c = 2)
      Seq(graft.ext.Ivf.K, bigK).distinct.foreach { k =>
        val bits = graft.ext.SemDedup.cellBitsFor(k)
        val cents = graft.ext.Ivf.refinedCentroids(vq, graft.ext.Ivf.LloydIters, k, bits)
          .materialized
        def probeOnce(): Unit =
          Bench.sink(graft.ext.Ivf.topNCells(vq, cents, graft.ext.SemDedup.NProbe, bits))
        probeOnce() // warm
        emit("probe_select", k, Bench.time(probeOnce()), "")
      }
      // The two-level hierarchy at the same large K — this timing
      // INCLUDES its own quantizer training (supers + per-super Lloyd),
      // which the flat numbers above exclude: the hierarchy's whole
      // point is that training + selection together are O(N·√K).
      def hierOnce(): Unit =
        Bench.sink(graft.ext.Ivf.hierTopNCells(vq, bigK, graft.ext.SemDedup.NProbe))
      hierOnce() // warm
      emit("probe_select_hier", bigK, Bench.time(hierOnce()), "")
    }

    spark.stop()
  }
}
