package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchHooks, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of the Spark work done under one job-group label. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var inBytes = 0L
  var outBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planMs = 0L
  var filesRead = 0L
  /** Task durations per stage, for the skew ratio. */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedMs += o.schedMs; inBytes += o.inBytes; outBytes += o.outBytes
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    planMs += o.planMs; filesRead += o.filesRead
    o.stageTasks.foreach { case (s, ts) => stageTasks.getOrElseUpdate(s, mutable.ArrayBuffer()) ++= ts }
  }

  /** Median over stages with at least two tasks of (slowest / median task). */
  def skew: Double = {
    val ratios = stageTasks.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }.toSeq.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
  }
}

/** A timed interval: `parent` is the enclosing span's id (0 at the root). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** The traced run's recorder. It registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, keeps spans in
  * memory, and attributes Spark work to the job group that was set when
  * the work was submitted. Streaming batches run in the stream's own
  * thread under a job group named by its run id; `alias` maps that id
  * back to the harness label. Everything runs from outside graft's code. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val execPlan = mutable.Map.empty[Long, (Long, Long)]
  // The QueryExecutionListener sees a QueryExecution, the SQL events its
  // execution id; whichever arrives first waits here for the other.
  private val planByQe = new java.util.IdentityHashMap[QueryExecution, (Long, Long)]()
  private val execByQe = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val byGroup = mutable.Map.empty[String, Counters]
  private val aliases = mutable.Map.empty[String, String]
  val progress = mutable.ArrayBuffer.empty[(String, StreamingQueryListener.QueryProgressEvent)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private var attached = false

  private def counters(group: String) = byGroup.getOrElseUpdate(group, new Counters)
  private def label(group: String) = aliases.getOrElse(group, group)

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this); spark.listenerManager.register(this)
    spark.streams.addListener(streams); attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams); attached = false
  }

  def drain(): Unit = PerfbenchHooks.drain(sc)

  def alias(group: String, as: String): Unit = synchronized { aliases(group) = as }

  /** Open a span; returns its id. `parent` is the enclosing open span. */
  def open(parent: Int, name: String, t0: Long): Int = synchronized {
    nextSpan += 1
    spans += Span(nextSpan, parent, name, t0, -1L)
    nextSpan
  }

  def close(id: Int, t1: Long): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(endNs = t1)
  }

  /** Counters per harness label (stream run ids folded into their label). */
  def groups: Map[String, Counters] = synchronized {
    val out = mutable.Map.empty[String, Counters]
    byGroup.foreach { case (g, c) => out.getOrElseUpdate(label(g), new Counters).add(c) }
    execPlan.foreach { case (e, (planMs, files)) =>
      val c = out.getOrElseUpdate(label(execGroup.getOrElse(e, "unlabelled")), new Counters)
      c.planMs += planMs; c.filesRead += files
    }
    out.toMap
  }

  /** Progress events of the streams labelled `streaming.feed`. */
  def feedProgress: Seq[StreamingQueryListener.QueryProgressEvent] = synchronized(
    progress.collect { case (run, e) if label(run) == "streaming.feed" => e }.toSeq)

  /** Spark jobs as (label, job id, start ms, end ms) on the wall clock. */
  def jobs: Seq[(String, Int, Long, Long)] = synchronized(jobSpans.map { case (g, j, s, e) => (label(g), j, s, e) }.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("unlabelled")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execGroup.getOrElseUpdate(x.toLong, g))
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).jobs += 1
    jobStart(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => jobSpans += ((g, e.jobId, t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrElse(e.stageId, "unlabelled"))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.inBytes += m.inputMetrics.bytesRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { s.jobGroupId.foreach(execGroup.getOrElseUpdate(s.executionId, _)) }
    case s: SparkListenerSQLExecutionEnd => PerfbenchHooks.queryExecution(s).foreach { qe =>
      synchronized {
        Option(planByQe.remove(qe)) match {
          case Some(p) => execPlan(s.executionId) = p
          case None => execByQe.put(qe, s.executionId)
        }
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.collect {
      case (p, s) if p != "parsing" => s.durationMs
    }.sum
    val files = try collectWithSubqueries(qe.executedPlan) {
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum catch { case _: Exception => 0L }
    synchronized {
      Option(execByQe.remove(qe)) match {
        case Some(id) => execPlan(id.longValue) = (planMs, files)
        case None => planByQe.put(qe, (planMs, files))
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += ((e.progress.runId.toString, e)) }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {

  /** Self time per span: its duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += math.max(0L, curE - curS)
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }
}
