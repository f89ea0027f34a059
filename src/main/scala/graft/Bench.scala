package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** The graph / seed-panel family. These are the suite's most expensive
    * queries AND the ones whose per-query numbers the round-over-round
    * delta watches most closely — and round 12 proved one shared JVM
    * contaminates exactly them: x110's final r12 median moved 8.07s →
    * 10.96s with its minimum above the r11 maximum on UNTOUCHED code
    * (accumulated heap/JIT/code-cache state from 231 other queries —
    * the same disease behind the retracted r11 x104 20× probe). In the
    * default lane mode this family runs in its OWN forked JVM: fresh
    * heap, fresh JIT, fresh code cache, its own warmup — so its medians
    * are comparable across rounds regardless of what the rest of the
    * suite did.
    *
    * DERIVED from the registry (every `ext.Graph` query), not
    * hand-listed: a new graph query joins the lane the moment it
    * registers, so the r12 contamination class cannot return through a
    * forgotten membership edit (r13 verdict finding #2). BenchLaneSpec
    * pins the derivation and the lane partition. */
  private[graft] def graphLane: Set[String] = ext.Graph.all.map(_.name).toSet

  /** Per-lane timed reps. Round 14 TRIED graph=5 (the r13 verdict's
    * noise-halving suggestion) and MEASURED it backfiring: reps are
    * rep-major passes over the whole lane, per-query times TREND UP with
    * pass index (accumulated heap/JIT/shuffle state inside the lane
    * JVM), so a 5-rep median lands on degraded passes — the lane's
    * median/min ratio rose 1.03 → 1.13 and x60 spread widened to
    * 6.96–15.06s on untouched code. The spread is a trend, not jitter;
    * more reps make it worse. Back at 3 for every lane (and comparable
    * with every prior round). An explicit SPARK_GRAFT_REPS overrides
    * BOTH lanes (profiling runs). */
  private val LaneReps = 3

  def main(args: Array[String]): Unit = {
    // Lane mode: fork one child JVM per lane and merge their per-query
    // lines. A SPARK_GRAFT_ONLY filter (one-JVM profiling) or running AS
    // a lane child short-circuits to the plain suite.
    if (!sys.env.contains("SPARK_GRAFT_LANE") && !sys.env.contains("SPARK_GRAFT_ONLY"))
      runForkedLanes()
    else
      runSuite(sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet), benchOut,
        quiet = false, laneReps, sys.env.getOrElse("SPARK_GRAFT_LANE", "main"))
  }

  // ---- the measurement core: Bench, ScaleProbe and IncProbe share it ----

  /** A fixed-point number for a jsonl line, written by Bench and the
    * probes. Locale-pinned: under a comma-decimal default locale `%.3f`
    * prints `1,500` and the line stops being JSON. */
  private[graft] def fmt(v: Double, digits: Int = 3): String = String.format(
    java.util.Locale.ROOT, s"%.${digits}f", java.lang.Double.valueOf(v))

  /** Seconds `body` takes: the one timer. */
  private[graft] def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Produce every row of `df` into the noop sink. The timed consumer is
    * the sink, not count(): count() lets the optimizer prune aggregate
    * values, projection expressions, and the final sort (a pure-map query
    * like the x24 scrub "benches" as a row count of its input). The noop
    * write materializes every output column of every row and keeps the
    * ORDER BY in the plan — the honest cost of actually producing the
    * result. */
  private[graft] def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The one timed unit: a query's construction plus one noop write. */
  private[graft] def timed(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Double = time(sink(fn(spark, dir)))

  /** The one reset between timed runs, so every timed run starts from an
    * empty block manager and pays exactly its own state.
    *  - A blocking unpersist of every persistent RDD: result-backing
    *    local-checkpoint blocks (the one generation a checkpointing query
    *    legitimately returns) otherwise outlive the run until the
    *    ContextCleaner notices, and at big probe factors evict or spill
    *    INTO the next timed run (they OOM'ed the first 20× graph
    *    session outright).
    *  - `clearCache` drops cached relations.
    *  - A GC, so the ContextCleaner reclaims dereferenced shuffles and
    *    blocks NOW, on untimed ground, instead of amortizing into a later
    *    query (round 6: d5 read 3.15s in-suite vs 0.51s isolated on
    *    identical code, a position tax of accumulated state).
    *  - A 150 ms drain, letting the async cleaner finish off the clock. */
  private[graft] def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
  }

  // ---- the suite and its lanes --------------------------------------

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Timed passes per lane; an explicit SPARK_GRAFT_REPS overrides. */
  private def laneReps: Int = sys.env.get("SPARK_GRAFT_REPS").fold(LaneReps)(_.toInt)

  /** Where the full artifact goes; `none` disables it (one-off
    * profiling). */
  private def benchOut: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/full_latest.jsonl")

  private def summaryLine(medians: Map[String, Double], reps: Int,
      lanesTag: Option[String]): String = {
    val failed = medians.filter(_._2 < 0).keys.toSeq.sorted
    val ok = medians.filter(_._2 >= 0)
    val slowest = ok.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // failure NAMES (bounded) ride the summary line — the count alone
    // says something broke without saying what
    val failedJson = failed.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    val lanes = lanesTag.fold("")(t => s""","lanes":$t""")
    // headline value = sum of per-query MEDIANS
    s"""{"metric":"total","value":${fmt(ok.values.sum)},"unit":"sec","n":${medians.size},"failures":${failed.size},"failed":$failedJson,"queries":$slowest,"sf":"$sfDir","warmup":true,"reps":$reps,"stat":"median","order":"shuffled-per-rep","reset":"unpersist+clearCache+gc"$lanes}"""
  }

  private def writeLines(path: String, lines: Seq[String]): Unit = if (path != "none") {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private val qLinePattern = """"name":"([^"]+)".*?"value":(-?[0-9.]+)""".r

  /** (name, median, raw line) for each per-query line of a jsonl file. */
  private def queryLines(lines: Seq[String]): Seq[(String, Double, String)] =
    lines.filter(_.contains("\"metric\":\"query\"")).flatMap { line =>
      qLinePattern.findFirstMatchIn(line).map(m => (m.group(1), m.group(2).toDouble, line))
    }

  /** The requested queries no lane file has a line for. A child killed
    * mid-suite leaves a file cut short, and a dead child leaves none, so
    * the universe is the REQUESTED list, never whatever the files hold. */
  private[graft] def missing(requested: Seq[String], files: Seq[Seq[String]]): Set[String] =
    requested.toSet -- files.flatMap(queryLines).map(_._1)

  /** The merged artifact of the lane (and re-run) files: every
    * calibration line verbatim, every query line ordered by median with
    * failures (-1) last, and one summary recomputed over them (each
    * file's own summary is dropped). The exact shape a single-JVM run
    * produces, so tools/bench_delta.py and a parse of the log's tail read
    * it unchanged. */
  private[graft] def merge(files: Seq[Seq[String]], reps: Int, lanesTag: String): Seq[String] = {
    val cal = files.flatten.filter(_.contains("\"metric\":\"calibration\""))
    val parsed = files.flatMap(queryLines).sortBy { case (_, v, _) => (v < 0, v) }
    cal ++ parsed.map(_._3) :+
      summaryLine(parsed.map { case (n, v, _) => n -> v }.toMap, reps, Some(lanesTag))
  }

  private def readLines(path: String): Seq[String] =
    if (!new java.io.File(path).isFile) Seq.empty
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().toList finally src.close()
    }

  /** Fork one JVM per lane (graph family, rest), then merge their jsonl.
    * The child inherits this JVM's arguments (add-opens, -Xmx, -D) and
    * classpath (`run / fork := true` puts the real application
    * classpath in java.class.path). Every requested query missing from
    * the lane files (a lane whose child died counts whole) is re-run
    * in-process: numbers beat no numbers, and the summary says it
    * happened. */
  private def runForkedLanes(): Unit = {
    import scala.jdk.CollectionConverters._
    val names = SparkEntry.queries.keys.toSeq.sorted
    val lanes = Seq(("graph", names.filter(graphLane)), ("main", names.filterNot(graphLane)))
      .filter(_._2.nonEmpty)
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val tmpDir = java.nio.file.Files.createTempDirectory("benchlanes")
    val laneFiles = lanes.map { case (lane, qs) =>
      val out = tmpDir.resolve(s"$lane.jsonl").toString
      val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava)
      pb.environment().put("SPARK_GRAFT_LANE", lane)
      pb.environment().put("SPARK_GRAFT_ONLY", qs.mkString(","))
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out)
      pb.environment().put("SPARK_GRAFT_REPS", laneReps.toString)
      pb.redirectErrorStream(true)
      System.err.println(s"[bench] lane $lane: ${qs.size} queries, $laneReps reps, forking JVM")
      val code = try {
        val p = pb.start()
        // drain to stderr so the parent's stdout carries ONLY the merged
        // lines (the driver tails stdout)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
        Iterator.continually(in.readLine()).takeWhile(_ != null)
          .foreach(l => System.err.println(s"[lane:$lane] $l"))
        p.waitFor()
      } catch { case e: Exception =>
        System.err.println(s"[bench] lane $lane fork failed: $e"); -1
      }
      System.err.println(s"[bench] lane $lane child exited $code")
      readLines(out)
    }
    val lost = missing(lanes.flatMap(_._2), laneFiles)
    val rerun = if (lost.isEmpty) Seq.empty else {
      System.err.println(s"[bench] ${lost.size} queries missing from lane files " +
        s"(${lost.toSeq.sorted.take(5).mkString(",")}…) — re-running in-process")
      val out = tmpDir.resolve("recovered.jsonl").toString
      runSuite(Some(lost), out, quiet = true, laneReps, "recovered")
      Seq(readLines(out))
    }
    val lanesTag = lanes.map { case (l, qs) =>
      s"""\"$l\":{"n":${qs.size},"reps":$laneReps}""" }.mkString("{", ",", "}") +
      (if (lost.nonEmpty) s""","lane_recovered":${lost.size}""" else "")
    val merged = merge(laneFiles ++ rerun, laneReps, lanesTag)
    merged.foreach(println)
    writeLines(benchOut, merged)
    // the lane files are merged into benchOut — drop the temp directory
    // instead of accreting one per bench run in the system tmp
    try {
      java.nio.file.Files.list(tmpDir).iterator().asScala
        .foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(tmpDir)
    } catch { case _: Exception => () }
  }

  /** Host-calibration stanza (r14 board #1): every bench run measures the
    * MACHINE alongside the queries, so a round-over-round regression on
    * untouched code can be adjudicated from one committed number instead
    * of a session of judge re-measurement (r13→r14's graph-lane episode:
    * 1.24× common-set, judge-confirmed host drift on bit-identical code).
    * Three fixed burns, each warmed once and then timed:
    *  - `md5_1core_sec`: 8M MessageDigest MD5s in one driver thread —
    *    pure single-core integer/JIT throughput, no Spark involved;
    *  - `md5_par_sec`: 96M codegen'd md5(string) rows across all local
    *    cores via a noop write — parallel CPU throughput under the same
    *    executor threads the queries use;
    *  - `shuffle_20m_sec`: 20M longs repartition(64)'d by key then folded
    *    to one row — fixed shuffle write+read volume, the machinery the
    *    graph/seed-panel lane lives on.
    * The line is emitted into the same jsonl as the query lines (one per
    * lane — each lane JVM calibrates itself) and `tools/bench_delta.py`
    * prints old vs new next to the totals. */
  private def calibrationLine(spark: SparkSession, lane: String): String = {
    import org.apache.spark.sql.functions.{col, expr, md5}
    def md5Burn(n: Int): Unit = {
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      var acc = 0 // data-dependent fold so the loop can't be dead-code'd
      while (i < n) {
        acc ^= md.digest(s"cal$i$acc".getBytes("US-ASCII"))(0)
        i += 1
      }
      if (acc == 94) System.err.print("") // consume acc
    }
    def parBurn(n: Long): Unit =
      sink(spark.range(0L, n, 1L, 32).select(md5(col("id").cast("string")).as("h")))
    def shuffleBurn(n: Long): Unit =
      sink(spark.range(0L, n, 1L, 32).repartition(64, col("id"))
        .agg(expr("bit_xor(xxhash64(id))")))
    md5Burn(200000); parBurn(1000000L); shuffleBurn(1000000L) // warm JIT/codegen
    val t1 = time(md5Burn(8000000))
    val tp = time(parBurn(96000000L))
    val ts = time(shuffleBurn(20000000L))
    s"""{"metric":"calibration","lane":"$lane","md5_1core_sec":${fmt(t1)},"md5_par_sec":${fmt(tp)},"shuffle_20m_sec":${fmt(ts)},"unit":"sec"}"""
  }

  /** One lane's suite: calibrate, warm up, `reps` timed passes, then
    * the per-query lines and summary, printed (unless `quiet`) and
    * written to `out`. */
  private def runSuite(only: Option[Set[String]], out: String, quiet: Boolean,
      reps: Int, lane: String): Unit = {
    val spark = Session(Session.cores)
    // Calibrate FIRST, on a fresh JVM/session — before any query state
    // accretes (each lane child calibrates itself; see calibrationLine).
    val calLine = calibrationLine(spark, lane)
    val queries = only.fold(SparkEntry.queries)(f => SparkEntry.queries.filter(q => f(q._1)))
    // Round 12 added the lane fork on top of the reset: the reset +
    // shuffle discipline bounds WITHIN-lane contamination, the lane fork
    // removes the CROSS-FAMILY kind the reset cannot reach (heap/JIT/
    // code cache). Within a lane, each rep runs the whole suite in a
    // different seeded-shuffled order, so any residual position effect
    // lands on different queries per rep and the per-query MEDIAN sheds
    // it. Each query line reports its suite positions per rep, so a
    // reader can still correlate a spiked max with where in the suite it
    // ran. One timed unit after the reset; a throw times as NaN.
    def resetAndTime(name: String): Double = {
      reset(spark)
      try timed(spark, sfDir, queries(name)) catch { case _: Throwable => Double.NaN }
    }
    // Warmup pass: JIT/codegen compilation and parquet footer reads dominate
    // a cold first query (~6s vs ~0.3s steady state); measure steady state.
    val names = queries.keys.toSeq.sorted
    names.foreach { n =>
      try sink(queries(n)(spark, sfDir)) catch { case _: Throwable => () }
    }
    // `reps` timed passes over the suite (median reported per query; each
    // line carries min/max so a reader can distinguish a plan regression
    // — median moved, spread tight — from JVM/GC luck: median stable, max
    // spiked). A failed iteration records NaN, and any failure poisons
    // the query's reported time to -1 — a plan that regresses into an
    // exception must read as FAILED, not as its wall-clock-to-throw.
    val timesByQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val posByQuery = scala.collection.mutable.Map.empty[String, Vector[Int]]
    for (rep <- 1 to reps) {
      val order = new scala.util.Random(rep * 0x9E3779B9L).shuffle(names)
      order.zipWithIndex.foreach { case (name, i) =>
        timesByQuery(name) = timesByQuery.getOrElse(name, Vector()) :+ resetAndTime(name)
        posByQuery(name) = posByQuery.getOrElse(name, Vector()) :+ i
      }
    }
    // Variance-gated re-runs (r15 verdict board #7): a query whose rep
    // spread exceeds 2× its min (x110's lane-JVM profile) gets `reps`
    // ADDITIONAL timed isolated runs appended before the median is
    // taken, so a one-rep JVM hiccup stops surfacing as a committed
    // regression the delta then adjudicates narratively every round.
    // The line carries "rerun":true so the delta can see it happened.
    val rerun = scala.collection.mutable.Set.empty[String]
    names.sorted.foreach { name =>
      val times = timesByQuery(name)
      if (!times.exists(_.isNaN) && times.min > 0 && times.max > 2 * times.min) {
        rerun += name
        (1 to reps).foreach(_ => timesByQuery(name) = timesByQuery(name) :+ resetAndTime(name))
      }
    }
    val results = names.map { name =>
      val times = timesByQuery(name)
      val stats = if (times.exists(_.isNaN)) (-1.0, -1.0, -1.0) else {
        val s = times.sorted
        (s(s.size / 2), s.head, s.last)
      }
      name -> stats
    }.toMap
    // The driver captures a bounded TAIL of the build log (~2 KB observed):
    // a single line carrying all per-query timings outgrew it twice
    // (rounds 2-3 recorded parsed:null). So the detail goes on one small
    // line per query — each independently parseable — and the very last
    // line is a compact summary whose size is bounded by construction
    // (total + counts + the 10 slowest), so the headline number always
    // survives the tail window intact. The FULL detail is additionally
    // persisted to a repo-committed artifact (see benchOut below) so
    // round-over-round deltas are computable for every query, not just
    // the 10 that fit the tail.
    def queryLine(k: String): String = {
      val (med, mn, mx) = results(k)
      val pos = posByQuery(k).mkString("[", ",", "]")
      val rr = if (rerun(k)) s""","rerun":true,"reps_total":${timesByQuery(k).size}""" else ""
      s"""{"metric":"query","name":"$k","value":${fmt(med)},"min":${fmt(mn)},"max":${fmt(mx)},"reps":$reps$rr,"pos":$pos,"unit":"sec"}"""
    }
    val orderedNames = results.toSeq
      .sortBy { case (_, (med, _, _)) => (med < 0, med) }.map(_._1)
    val lines = calLine +: orderedNames.map(queryLine) :+
      summaryLine(results.map { case (k, (med, _, _)) => k -> med }, reps, None)
    if (!quiet) lines.foreach(println)
    // Full artifact: every per-query line + the summary, written where the
    // repo can commit it (driver tail truncation loses all but ~10 lines).
    writeLines(out, lines)
    spark.stop()
  }
}
