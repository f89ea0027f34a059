package perfbench

import graft.{SparkEntry, Tables}
import graft.analytics.HealthReport
import graft.ingest.{HhsLoad, QualityLoad}
import graft.model.VersionedStore
import graft.streaming.WeeklyFeed
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable

/** One closed-loop client driving graft's public entry points for one
  * benchmark workload, then writing what it measured as one JSON file.
  *
  *   weekly_cycle    per week: HhsLoad.load → QualityLoad.load → one
  *                   WeeklyFeed AvailableNow increment → HealthReport.all
  *   registry_panel  per sweep: each of `PanelQueries` built by `Q.fn` and
  *                   run into a noop sink
  *
  * Inputs come from perfbench/gen.py; this program only reads them. With
  * `--trace 1` a Tracer records spans and Spark counters on some passes
  * only (the middle one of three weeks, every other sweep), so the same
  * run also yields the tracing overhead. */
object Harness {
  val started: Long = System.nanoTime()

  val ReportNames: Seq[(String, String)] = Seq(
    "hospital_records_summary" -> "hr1_hospital_records_summary",
    "beds_summary" -> "hr2_beds_summary",
    "beds_utilization" -> "hr3_beds_utilization",
    "weekly_beds_used" -> "hr4_weekly_beds_used",
    "covid_cases_by_state" -> "hr5_covid_cases_by_state",
    "states_fewest_open_beds" -> "hr6_states_fewest_open_beds",
    "hospitals_not_reporting" -> "hr7_hospitals_not_reporting",
    "hospital_utilization_by_state_over_time" -> "hr8_utilization_by_state")

  /** registry_panel: three sub-second relational queries, where planning
    * and per-job overhead dominate (one each from analytics.Reports,
    * etl.Etl and analytics.HealthSynth), and one iterative query whose
    * construction runs eager per-round checkpoint jobs (ext.Dedup). */
  val PanelQueries: Seq[String] = Seq("q1_pricing_summary", "d5_fact_upsert_new_rows",
    "hr4_weekly_beds_used", "x16_dedup_clusters")

  /** The store tables the reports read. */
  val ReportTables: Seq[String] = Seq("location", "hospital", "hospital_quality", "weekly_report")

  val PanelTables: Seq[String] =
    Seq("region", "nation", "customer", "orders", "lineitem", "events", "documents")

  /** Set-ups timed per run; `setup_s` is their median. */
  val Setups = 5

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** `--key value` pairs; `--then` starts the next run in the same JVM. */
  def main(argv: Array[String]): Unit =
    argv.foldRight(List(List.empty[String])) {
      case ("--then", runs) => Nil :: runs
      case (arg, run :: runs) => (arg :: run) :: runs
      case (_, Nil) => Nil
    }.foreach { run =>
      new Harness(run.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap).run()
    }

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(dirBytes).sum)
    else if (f.isFile) f.length() else 0L

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new File(to, f.getName))))
    } else Files.copy(from.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

final class Harness(a: Map[String, String]) {
  import Harness._

  private val workload = a("workload")
  private val in = a("in")
  private val work = new File(a("work")).getAbsolutePath
  private val out = new File(a("out")).getAbsolutePath
  private val seconds = a("seconds").toDouble
  private val tracing = a.getOrElse("trace", "0") == "1"
  private lazy val historyWeeks = a("history-weeks").toInt
  private lazy val firstWeek = java.time.LocalDate.parse(a("first-week"))

  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val openSpans = mutable.Stack[(Int, String)]()
  private var attempted = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val heap = new HeapPeak
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def weekDate(i: Int) = java.sql.Date.valueOf(firstWeek.plusWeeks(i.toLong))

  /** Run `body` under job group `label`, timing it and, when a tracer is
    * attached, recording it as a span nested in the enclosing step. */
  private def step[A](label: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val id = tracer.filter(_ => traceOn).map(_.open(openSpans.headOption.fold(0)(_._1), label, t0))
    openSpans.push((id.getOrElse(0), label))
    sc.setJobGroup(label, label, interruptOnCancel = false)
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      openSpans.pop()
      id.foreach(i => tracer.get.close(i, t1))
      openSpans.headOption match {
        case Some((_, outer)) => sc.setJobGroup(outer, outer, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** An operation counted in `attempted`; a throw counts it failed. */
  private def op[A](label: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    try {
      val r = step(label)(body)
      System.err.println(f"[perfbench] $label%s ${r._2}%.3fs at ${(System.nanoTime() - Harness.started) / 1e9}%.1fs")
      Some(r)
    } catch {
      case e: Throwable =>
        errors += s"$label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] FAILED ${errors.last}")
        None
    }
  }

  private var traceOn = false
  private var hostInfo: Map[String, Any] = Map.empty

  /** Sweeps of registry_panel measured at least, whatever `seconds` says.
    * A traced run alternates untraced and traced sweeps, so it needs more
    * to compare the two. */
  private val minSweeps = 4 * (if (tracing) 2 else 1)

  /** Untimed reset, as Bench does between queries: drop cached relations
    * and collect garbage so the ContextCleaner reclaims dead shuffle and
    * checkpoint blocks off the clock. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(100)
  }

  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var retainedHeap = 0L

  /** The reset between passes, which also samples the heap the run keeps
    * between passes. The first collection lets the cleaner release what
    * dead DataFrames held; the next free it. The least heap left after one
    * of three collections is the live set, and the largest live set is
    * the run's retained heap. */
  private def resetAndSampleHeap(): Unit = {
    reset()
    val live = mem.getHeapMemoryUsage.getUsed +: (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed
    }
    retainedHeap = math.max(retainedHeap, live.min)
  }

  // ---- host stanza ----------------------------------------------------

  private def host(): Map[String, Any] = {
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def md5Burn(n: Int): Unit = {
      val md = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      var acc = 0
      while (i < n) { acc ^= md.digest(s"cal$i$acc".getBytes("US-ASCII"))(0); i += 1 }
      if (acc == 94) System.err.print("")
    }
    def shuffleBurn(n: Long): Unit =
      spark.range(0L, n, 1L, cores).repartition(cores * 2, col("id"))
        .agg(expr("bit_xor(xxhash64(id))")).write.format("noop").mode("overwrite").save()
    md5Burn(100000); shuffleBurn(100000L) // warm JIT and codegen
    Map(
      "nproc" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "md5_1m_1core_s" -> time(md5Burn(1000000)),
      "shuffle_2m_s" -> time(shuffleBurn(2000000L)))
  }

  // ---- weekly_cycle ---------------------------------------------------

  private val store = s"$work/store"
  private def feedIn = s"$store/feed_in"
  private def feedStore = s"$store/feed_store"
  private def feedCkpt = s"$store/feed_checkpoint"

  private def feedBatch(file: String): Unit = {
    new File(feedIn).mkdirs()
    Files.copy(new File(s"$in/$file").toPath, new File(s"$feedIn/$file").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    val q = WeeklyFeed.runFeed(spark, feedIn, feedStore, feedCkpt)
    tracer.foreach(_.alias(q.runId.toString, "streaming.feed"))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** The store's history: months of weeks, loaded through the same entry
    * points as a week, then reported on once. It also warms every code
    * path a week runs. The feed, independent of the two loads, runs beside
    * them; nothing here is timed. The reports are written out with a copy
    * of the tables they read, for the DuckDB oracle check. */
  private def loadHistory(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    deleteTree(new File(store))
    val feed = Future(feedBatch("feed_history.parquet"))
    HhsLoad.load(spark, s"$in/hhs_history.csv", store)
    QualityLoad.load(spark, s"$in/cms_history.csv", weekDate(historyWeeks - 1), store)
    Await.result(feed, scala.concurrent.duration.Duration.Inf)
    val all = new HealthReport(spark, store, weekDate(historyWeeks - 1)).all
    ReportNames.foreach { case (n, hr) =>
      all(n).coalesce(1).write.mode("overwrite").parquet(s"$out/reports/$hr")
    }
    ReportTables.foreach(t => copyTree(new File(s"$store/$t"), new File(s"$out/report_store/$t")))
  }

  private def storeHash(): String = {
    ReportTables.map { t =>
      val df = spark.read.parquet(s"$store/$t")
      val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), sum(col("h"))).head()
      s"$t:${r.getLong(0)}:${r.get(1)}"
    }.mkString(";")
  }

  /** The timed week: the first week after the history, once. A traced
    * run times it three times, untraced, traced and untraced, with the
    * store restored to its state before the week ahead of each repeat. So
    * every pass does the same work on the same store, the traced pass sits
    * between a colder and a warmer untraced one, and its difference from
    * them is the tracing overhead. */
  private def weekly(): Map[String, Any] = {
    val weeks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val commitBytes = mutable.ArrayBuffer.empty[Double]
    val snapshot = new File(s"$work/store_before_week")
    if (tracing) copyTree(new File(store), snapshot)
    hostInfo = host()
    resetAndSampleHeap()
    val date = weekDate(historyWeeks)
    (if (tracing) Seq(false, true, false) else Seq(false)).zipWithIndex.foreach { case (traced, i) =>
      if (i > 0) {
        deleteTree(new File(store))
        copyTree(snapshot, new File(store))
      }
      traceOn = traced
      tracer.foreach(t => if (traceOn) t.attach() else t.detach())
      heap.sampling = true
      val w0 = System.nanoTime()
      val pass = tracer.filter(_ => traceOn).map(_.open(0, "pass", w0))
      openSpans.push((pass.getOrElse(0), "pass"))
      val feedBefore = dirBytes(new File(feedStore))
      val hhs = op("ingest.hhs")(HhsLoad.load(spark, s"$in/hhs_week.csv", store))
      val qual = op("ingest.quality")(QualityLoad.load(spark, s"$in/cms_week.csv", date, store))
      val feed = op("streaming.feed")(feedBatch("feed_week.parquet"))
      commitBytes += (dirBytes(new File(feedStore)) - feedBefore).toDouble
      val reports = mutable.LinkedHashMap.empty[String, Double]
      val rep = op("analytics.report") {
        val all = new HealthReport(spark, store, date).all
        ReportNames.foreach { case (n, _) =>
          reports(n) = step(s"analytics.report.$n") {
            all(n).write.format("noop").mode("overwrite").save()
          }._2
        }
      }
      val w1 = System.nanoTime()
      openSpans.pop()
      pass.foreach(tracer.get.close(_, w1))
      heap.sampling = false
      val wall = (w1 - w0) / 1e9
      if (traceOn) tracer.get.drain()
      weeks += Map("traced" -> traceOn, "wall_s" -> wall,
        "ok" -> Seq(hhs, qual, feed, rep).forall(_.isDefined),
        "hhs_load_s" -> hhs.fold(Double.NaN)(_._2), "quality_load_s" -> qual.fold(Double.NaN)(_._2),
        "feed_batch_s" -> feed.fold(Double.NaN)(_._2), "report_s" -> rep.fold(Double.NaN)(_._2),
        "reports" -> reports.toMap)
      traceOn = false
      resetAndSampleHeap()
    }
    tracer.foreach(_.detach())
    deleteTree(snapshot)
    // Correctness: re-load the week; the store's content must not change.
    val before = storeHash()
    val reloaded = op("check") {
      HhsLoad.load(spark, s"$in/hhs_week.csv", store)
      QualityLoad.load(spark, s"$in/cms_week.csv", date, store)
    }.isDefined
    val after = storeHash()
    Map("weeks" -> weeks.toSeq, "store_dir" -> store, "feed_store" -> feedStore,
      "report_store" -> s"$out/report_store", "report_as_of" -> weekDate(historyWeeks - 1).toString,
      "reload_ok" -> reloaded, "reload_hash_equal" -> (before == after),
      "store_hash" -> before, "store_bytes" -> dirBytes(new File(store)),
      "feed_input_bytes" -> dirBytes(new File(feedIn)),
      "feed_versions" -> VersionedStore.latestVersion(feedStore),
      "feed_store_bytes" -> dirBytes(new File(feedStore)),
      "feed_commit_bytes" -> commitBytes.toSeq,
      "synth_oracle" -> graft.analytics.HealthSynth.all.flatMap(q => q.oracle.map(q.name -> _)).toMap)
  }

  // ---- panels -----------------------------------------------------------

  private def panel(): Map[String, Any] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val queries = PanelQueries.map(byName)
    val tables = a("tables")
    // Warm-up pass: JIT, codegen and footer reads; each result is written
    // as parquet for the DuckDB oracle check. Not a sample.
    queries.foreach { q =>
      op("warmup")(q.fn(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/panel/${q.name}"))
    }
    hostInfo = host()
    resetAndSampleHeap()
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ckptBytes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var p = 0
    while (p < minSweeps || (System.nanoTime() - t0) / 1e9 < seconds) {
      traceOn = tracer.isDefined && p % 2 == 1
      tracer.foreach(t => if (traceOn) t.attach() else t.detach())
      val order = new scala.util.Random(p * 0x9E3779B9L).shuffle(queries)
      heap.sampling = true
      val p0 = System.nanoTime()
      val pass = tracer.filter(_ => traceOn).map(_.open(0, "pass", p0))
      openSpans.push((pass.getOrElse(0), "pass"))
      var passOk = true
      var passCkpt = 0L
      order.foreach { q =>
        reset()
        val persisted = if (traceOn) spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
        val c0 = System.nanoTime()
        val r = op(s"registry.${q.name}") {
          val df = step(s"registry.${q.name}.construct")(q.fn(spark, tables))._1
          if (traceOn) passCkpt += spark.sparkContext.getRDDStorageInfo
            .filterNot(i => persisted(i.id)).map(i => i.memSize + i.diskSize).sum
          step(s"registry.${q.name}.exec")(df.write.format("noop").mode("overwrite").save())
        }
        if (r.isDefined) times.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += (System.nanoTime() - c0) / 1e9
        else passOk = false
      }
      val p1 = System.nanoTime()
      heap.sampling = false
      openSpans.pop()
      pass.foreach(tracer.get.close(_, p1))
      val wall = (p1 - p0) / 1e9
      if (traceOn) { tracer.get.drain(); ckptBytes += passCkpt.toDouble }
      passes += Map("pass" -> p, "traced" -> traceOn, "wall_s" -> wall, "ok" -> passOk)
      traceOn = false
      resetAndSampleHeap()
      p += 1
    }
    tracer.foreach(_.detach())
    Map("passes" -> passes.toSeq, "times" -> times.map { case (k, v) => k -> v.toSeq }.toMap,
      "checkpoint_bytes" -> ckptBytes.toSeq,
      "oracle" -> queries.flatMap(q => q.oracle.map(q.name -> _)).toMap)
  }

  // ---- set-up, trace output, run ----------------------------------------

  /** Open the workload's tables: the store's four tables and the feed
    * snapshot, or the panel's parquet tables. */
  private def openTables(): Unit =
    if (workload == "weekly_cycle") {
      ReportTables.foreach(t => spark.read.parquet(s"$store/$t").schema)
      VersionedStore.read(spark, feedStore).schema
    } else PanelTables.foreach(t => Tables.table(spark, a("tables"), t).schema)

  /** Set-up, timed `Setups` times: a new session that opens the
    * workload's tables. The JVM's first session (cold start), the load of
    * the weekly store's history and a first, cold opening of the tables
    * come before and are not timed. */
  private def setup(): Seq[Double] = {
    spark = newSession()
    if (workload == "weekly_cycle") op("fixture")(loadHistory())
    op("warmup")(openTables())
    (1 to Setups).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      if (op("setup")(openTables()).isEmpty) Double.NaN else (System.nanoTime() - t0) / 1e9
    }
  }

  private def traceReport(t: Tracer): Map[String, Any] = {
    val groups = t.groups
    val spans = t.spans.filter(_.endNs > 0).toSeq
    // Each Spark job becomes a child span of the innermost step span
    // carrying its label that covers its start.
    val jobSpans = t.jobs.flatMap { case (label, id, s, e) =>
      val sNs = s * 1000000L - wallOffsetNs
      val eNs = e * 1000000L - wallOffsetNs
      spans.filter(sp => sp.name == label && sp.startNs <= sNs && sNs <= sp.endNs)
        .sortBy(sp => sp.endNs - sp.startNs).headOption
        .map(parent => Span(0, parent.id, s"job:$id", sNs, eNs))
    }
    val withJobs = spans ++ jobSpans.zipWithIndex.map { case (s, i) => s.copy(id = 1000000 + i) }
    val self = Tracer.selfTimes(withJobs)
    val w = new java.io.PrintWriter(s"$out/spans.jsonl", "UTF-8")
    try withJobs.foreach { s =>
      w.println(Json.render(Map("run" -> a.getOrElse("run-id", workload), "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> (s.startNs - started) / 1e6,
        "end_ms" -> (s.endNs - started) / 1e6, "self_ms" -> self(s.id) / 1e6)))
    } finally w.close()
    val layerOf = (n: String) =>
      if (n.startsWith("job:")) "spark.job"
      else if (n.startsWith("registry.")) "registry." + n.split('.').last
      else n
    val layers = withJobs.groupBy(s => layerOf(s.name)).map { case (l, ss) =>
      l -> Map("spans" -> ss.size, "total_s" -> ss.map(s => s.endNs - s.startNs).sum / 1e9,
        "self_s" -> ss.map(s => self(s.id)).sum / 1e9)
    }
    val counters = groups.map { case (g, c) =>
      g -> Map("jobs" -> c.jobs, "tasks" -> c.tasks, "task_s" -> c.runMs / 1e3,
        "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3, "scheduler_delay_s" -> c.schedMs / 1e3,
        "input_bytes" -> c.inBytes, "output_bytes" -> c.outBytes,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "plan_s" -> c.planMs / 1e3, "files_read" -> c.filesRead,
        "task_skew" -> c.skew)
    }
    val progress = t.feedProgress.map { e =>
      val p = e.progress
      val d = p.durationMs
      def ms(k: String) = Option(d.get(k)).fold(0L)(_.longValue)
      Map("batch" -> p.batchId, "rows_in" -> p.numInputRows, "add_batch_s" -> ms("addBatch") / 1e3,
        "plan_s" -> ms("queryPlanning") / 1e3, "wal_s" -> ms("walCommit") / 1e3,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    Map("layers" -> layers, "counters" -> counters, "feed_progress" -> progress,
      "spans_file" -> s"$out/spans.jsonl")
  }

  def run(): Unit = {
    new File(out).mkdirs()
    new File(work).mkdirs()
    val setupTimes = setup()
    if (tracing) tracer = Some(new Tracer(spark))
    val body = try if (workload == "weekly_cycle") weekly() else panel() finally heap.close()
    val traced = tracer.map(traceReport)
    spark.stop()
    val result = Map("workload" -> workload, "host" -> hostInfo, "setup_s" -> setupTimes,
      "seconds" -> seconds, "attempted" -> attempted, "errors" -> errors.toSeq,
      "peak_heap_mb" -> heap.peak / 1048576.0, "retained_heap_mb" -> retainedHeap / 1048576.0,
      "body" -> body) ++
      traced.fold(Map.empty[String, Any])(t => Map("trace" -> t))
    val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
    try w.println(Json.render(result)) finally w.close()
  }
}

/** The largest heap in use right after a garbage collection, over the
  * collections that end while `sampling` is set. Right after a collection
  * the heap holds what was live then, plus old-generation objects that
  * died since the last old-generation collection; a pass's working set
  * shows here, where a sample taken between passes would miss it. */
final class HeapPeak extends javax.management.NotificationListener {
  import com.sun.management.GarbageCollectionNotificationInfo
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  @volatile var sampling = false
  private val max = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  collectors.foreach(_.addNotificationListener(this, null, null))

  def peak: Long = max.get

  def close(): Unit = collectors.foreach(_.removeNotificationListener(this))

  override def handleNotification(n: javax.management.Notification, handback: AnyRef): Unit =
    if (sampling && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      max.accumulateAndGet(used, math.max(_, _))
    }
}

/** Minimal JSON rendering for the result file (maps, sequences, numbers,
  * strings, booleans). Non-finite numbers become null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
