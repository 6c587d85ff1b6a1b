package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of one op, in epoch milliseconds. `parent` is set
  * for spans recorded around calls from this benchmark; spans built from
  * Spark's listener events are parented afterwards by containment. */
final case class Span(op: Long, id: Long, parent: Long, layer: String,
    name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans and counters for the traced run. Every method is a no-op when
  * tracing is off, so the plain run pays one branch per call site. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * base as Spark's listener timestamps. */
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  @volatile var recording: Boolean = false

  def add(s: Span): Unit = if (on && recording) spans.add(s)

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as a span of `layer` under `parent`; returns its id
    * through `f` so nested calls can parent to it. */
  def span[T](op: Long, parent: Long, layer: String, name: String)(body: Long => T): T =
    if (!(on && recording)) body(0L)
    else {
      val id = nextId()
      val t0 = nowMs
      try body(id)
      finally spans.add(Span(op, id, parent, layer, name, t0, nowMs))
    }

  def count(name: String, d: Double = 1.0): Unit =
    if (on && recording) counters.merge(name, d, (a: Double, b: Double) => a + b)

  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  def all: Seq[Span] = spans.asScala.toSeq

  /** The Catalyst phases of one action (analysis, optimization,
    * planning), from its QueryPlanningTracker. */
  def phaseSpans(qe: QueryExecution, op: Long): Seq[Span] =
    qe.tracker.phases.toSeq.map { case (phase, s) =>
      Span(op, nextId(), -1L, Layers.Catalyst, phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
}

/** The layer names, as this repository's modules. */
object Layers {
  val Streaming = "streaming"
  val Apps = "apps"
  val Sinks = "sinks"
  val Queries = "queries"
  val Catalyst = "catalyst"
  val Execution = "execution"
  val Bench = "bench"

  /** Local property that tags every Spark job with the op that caused it. */
  val OpProperty = "perfbench.op"
}

/** Spark's public listener APIs, turned into spans and counters:
  *   - SparkListener: jobs (spans), stages, tasks, CPU, GC, shuffle, spill;
  *   - QueryExecutionListener: Catalyst phase spans from each action's
  *     QueryPlanningTracker, UDBF scan output rows, CSV write time;
  *   - StreamingQueryListener: micro-batch durations.
  * Events arrive on Spark's listener threads; ops are matched through the
  * job's local property or, for planning phases, by time.
  */
final class SparkTap(tracer: Tracer) {
  import SparkTap.StageStat

  val stages = new ConcurrentLinkedQueue[StageStat]()
  val progress = new ConcurrentLinkedQueue[Map[String, Double]]()
  val executions = new ConcurrentLinkedQueue[SparkTap.Execution]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double)]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  @volatile var lastEventMs: Double = 0.0
  private val openJobs = new java.util.concurrent.atomic.AtomicInteger(0)

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Layers.OpProperty)))
      .flatMap(_.toLongOption).getOrElse(-1L)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.recording) {
      openJobs.incrementAndGet()
      val op = opOf(e.properties)
      jobStart.put(e.jobId, (op, e.time.toDouble))
      e.stageIds.foreach(s => stageOp.put(s, op))
      tracer.count("jobs")
      lastEventMs = tracer.nowMs
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        openJobs.decrementAndGet()
        tracer.add(Span(op, tracer.nextId(), -1L, Layers.Execution,
          s"job ${e.jobId}", t0, math.max(t0, e.time.toDouble)))
      }
      lastEventMs = tracer.nowMs
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracer.recording) {
      if (e.taskInfo != null)
        stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = Option(stageOp.remove(info.stageId)).map(_.longValue).getOrElse(-2L)
      val taskMs = Option(stageTasks.remove(info.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
      if (op != -2L) {
        val m = info.taskMetrics
        stages.add(StageStat(op, info.numTasks,
          if (m == null) 0.0 else m.executorCpuTime / 1e6,
          if (m == null) 0.0 else m.jvmGCTime.toDouble,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
          taskMs))
      }
      lastEventMs = tracer.nowMs
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def udbfRows(qe: QueryExecution): Long =
      collectWithSubqueries(qe.executedPlan) {
        case b: BatchScanExec if b.scan.getClass.getName.contains("Udbf") =>
          b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (tracer.recording) {
        val end = tracer.nowMs
        tracer.phaseSpans(qe, -1L).foreach(tracer.add)
        val isCsv = qe.logical.getClass.getSimpleName.contains("InsertIntoHadoopFsRelation") ||
          qe.analyzed.getClass.getSimpleName.contains("InsertIntoHadoopFsRelation")
        val rows = try Plans.udbfRows(qe) catch { case _: Throwable => 0L }
        executions.add(SparkTap.Execution(end - durationNs / 1e6, end, rows, isCsv))
        lastEventMs = end
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (tracer.recording) {
        tracer.phaseSpans(qe, -1L).foreach(tracer.add)
        lastEventMs = tracer.nowMs
      }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracer.recording) {
        val p = e.progress
        progress.add(p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap +
          ("numInputRows" -> p.numInputRows.toDouble))
        lastEventMs = tracer.nowMs
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener events are delivered asynchronously: wait until every
    * started job has ended and no event has arrived for a short while. */
  def drain(maxWaitMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    while (System.currentTimeMillis() < deadline &&
      (openJobs.get() > 0 || tracer.nowMs - lastEventMs < 300)) Thread.sleep(20)
  }
}

object SparkTap {
  final case class StageStat(op: Long, tasks: Int, cpuMs: Double, gcMs: Double,
      shuffleBytes: Long, spillBytes: Long, taskMs: Seq[Long])

  /** One finished SQL action: its interval, the rows its UDBF scans
    * produced, and whether it was a file write (the CSV sink). */
  final case class Execution(startMs: Double, endMs: Double, udbfRows: Long, fileWrite: Boolean)
}

/** Self time per layer: each span's duration minus the part of it that
  * its children cover. Listener spans have no explicit parent; each is
  * placed under the innermost span of the same op that contains it
  * (bench spans first, then listener spans nested by containment). */
object SelfTime {

  def byLayer(spans: Seq[Span]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.groupBy(_.op).foreach { case (_, ss) =>
      val parentOf = mutable.Map.empty[Long, Long]
      // deeper = shorter: sort candidate parents by duration so the
      // innermost container is found first
      val byDur = ss.sortBy(_.durMs)
      ss.foreach { s =>
        val p =
          if (s.parent >= 0) s.parent
          else byDur.find(c => c.id != s.id && c.startMs <= s.startMs &&
            c.endMs >= s.endMs && (c.durMs > s.durMs || c.id < s.id))
            .map(_.id).getOrElse(0L)
        parentOf(s.id) = p
      }
      val children = ss.groupBy(s => parentOf(s.id))
      ss.foreach { s =>
        val covered = Intervals.covered(children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))))
        out(s.layer) += math.max(0.0, s.durMs - covered)
      }
    }
    out.toMap
  }
}

/** Union length of a set of intervals. */
object Intervals {
  def covered(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var a = Double.NaN; var b = Double.NaN
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (a.isNaN) { a = s; b = e }
      else if (s <= b) b = math.max(b, e)
      else { total += b - a; a = s; b = e }
    }
    if (!a.isNaN) total += b - a
    total
  }
}
