package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.apps.LpiAnalysis
import graft.sinks.{InMemoryKvSink, KvSink, RegisterSink, RegisterWriter}
import graft.streaming.{FilePipeline, StabilityGate}

/** `lpi_ingest`: the reference's own figure of merit. One op takes one
  * seeded logger file through the full path: atomic placement in the
  * gate's input directory, `StabilityGate.poll` until admitted, the
  * `FilePipeline` stream (one file per trigger, `LpiAnalysis.processFile`
  * as the per-file process), `stats:<stem>` visible in the KV sink (a
  * corrupt file: dead-lettered with health `1`), then one
  * `RegisterWriter.sweep`. Latency runs from placement to the end of the
  * sweep.
  *
  * The age gate and the trigger interval are 0 through the components'
  * constructor parameters; the reference's floor (40 s age gate + 2 s
  * tick) is the constant [[LpiWorkload.ReferenceFloorMs]], never slept.
  */
final class LpiWorkload(seed: Long, workDir: Path, tracer: Tracer) extends Workload {
  import LpiInputs._
  import LpiWorkload._

  val roundSize: Int = BlockSize

  /** Files generated per set-up; the measured window cycles through
    * them under fresh names. */
  private val PoolFiles = 3 * BlockSize

  private final class Dirs(root: Path) {
    val input: Path = root.resolve("input")
    val staging: Path = root.resolve("staging")
    val finished: Path = root.resolve("finished")
    val failed: Path = root.resolve("failed")
    val stats: Path = root.resolve("stats")
    val ckpt: Path = root.resolve("checkpoint")
    val tmp: Path = root.resolve("placing")
    Seq(input, staging, finished, failed, stats, tmp).foreach(Files.createDirectories(_))
  }

  /** (field, register) for every channel statistic of both loggers. */
  private val mapping: Seq[(String, Int)] =
    loggers.flatMap(l => (0 until l.channels).flatMap(j =>
      Seq("mean", "min", "max").map(s => s"${l.channelName(j)}:$s")))
      .zipWithIndex.map { case (f, i) => f -> 2 * i }
  private val registerOf: Map[String, Int] = mapping.toMap

  private var dirs: Dirs = _
  private var pool: Vector[Spec] = Vector.empty
  private var raw: InMemoryKvSink = _
  private var registers: RegisterSink = _
  private var writer: RegisterWriter = _
  private var gate: StabilityGate = _
  private var query: StreamingQuery = _
  private var fileNo = 0L

  /** Sink events the op waits on: `stats:<stem>` hashes and health flags. */
  private val events = new LinkedBlockingQueue[String]()
  private val opOfFile = new ConcurrentHashMap[String, java.lang.Long]()
  private val rootOfOp = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  private val admittedAt = new ConcurrentHashMap[String, java.lang.Double]()
  @volatile private var streamOp = -1L
  private val streamParent = new ThreadLocal[java.lang.Long]()

  /** The KV sink the engine writes to: times every call and signals the
    * op waiting for the file's outcome. The benchmark's own checks read
    * `raw` directly, so they are neither timed nor counted. */
  private final class TappedKv(inner: KvSink) extends KvSink {
    private def timed[T](name: String)(body: => T): T = {
      val p = Option(streamParent.get()).map(_.longValue).getOrElse(-1L)
      tracer.span(streamOp, p, Layers.Sinks, s"KvSink.$name")(_ => body)
    }
    def hset(key: String, m: Map[String, String], ttl: Option[Long]): Unit = {
      timed("hset")(inner.hset(key, m, ttl)); events.put(key)
    }
    def set(key: String, value: String, ttl: Option[Long]): Unit = {
      timed("set")(inner.set(key, value, ttl)); events.put(s"$key=$value")
    }
    def get(key: String): Option[String] = timed("get")(inner.get(key))
    def hget(key: String, field: String): Option[String] = timed("hget")(inner.hget(key, field))
    def hgetAll(key: String): Map[String, String] = timed("hgetAll")(inner.hgetAll(key))
    def scan(pattern: String): Seq[String] = {
      val keys = timed("scan")(inner.scan(pattern))
      tracer.count("kv.scan_keys", keys.size)
      keys
    }
  }

  def setUp(spark: SparkSession, rep: Int): Seq[OpResult] = {
    dirs = new Dirs(workDir.resolve(s"lpi-rep$rep"))
    pool = specs(seed, PoolFiles)
    raw = new InMemoryKvSink()
    val kv = new TappedKv(raw)
    registers = new RegisterSink(2 * mapping.size)
    writer = new RegisterWriter(kv, registers, mapping)
    gate = new StabilityGate(dirs.input, dirs.staging, minFileAgeMs = 0L)
    val analysis = new LpiAnalysis(spark, dirs.stats.toString, kv)
    val process: String => Unit = file => {
      val name = Paths.get(file).getFileName.toString
      val op = Option(opOfFile.get(name)).map(_.longValue).getOrElse(-1L)
      streamOp = op
      Option(admittedAt.get(name)).foreach(a =>
        tracer.count("trigger_wait_ms", tracer.nowMs - a))
      spark.sparkContext.setLocalProperty(Layers.OpProperty, op.toString)
      val root = Option(rootOfOp.get(op)).map(_.longValue).getOrElse(-1L)
      try tracer.span(op, root, Layers.Apps, "LpiAnalysis.processFile") { id =>
        streamParent.set(id)
        analysis.processFile(file)
      } finally {
        streamParent.remove()
        spark.sparkContext.setLocalProperty(Layers.OpProperty, null)
      }
    }
    query = new FilePipeline(spark, "lpi", dirs.staging.toString,
      dirs.finished.toString, dirs.failed.toString, dirs.ckpt.toString, kv,
      process = process, pathGlobFilter = "*.dat", triggerInterval = "0 seconds").start()
    // warm pass: the first file of every (logger, kind) in the pool
    BlockMix.flatMap { case (l, k, _) => pool.find(s => s.logger == l && s.kind == k) }
      .map(runFile)
  }

  def op(i: Int): OpResult = runFile(pool(i % pool.size))

  def tearDown(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  private def runFile(spec: Spec): OpResult = {
    val k = fileNo
    fileNo += 1
    val name = fileName(spec, k)
    val stem = name.stripSuffix(".dat")
    val op = k
    opOfFile.put(name, op)
    events.clear()
    val placing = dirs.tmp.resolve(name)
    Files.write(placing, spec.bytes)
    val want = if (spec.kind == Corrupt) s"$HealthKey=1" else s"stats:$stem"
    var reached = false
    val t0 = System.nanoTime()
    tracer.span(op, 0L, Layers.Streaming, "op") { root =>
      rootOfOp.put(op, root)
      Files.move(placing, dirs.input.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      def left = TimeoutNs - (System.nanoTime() - t0)
      var admitted = false
      while (!admitted && left > 0) {
        // stamped before the poll: the stream may take the file at once
        admittedAt.put(name, tracer.nowMs)
        admitted = tracer.span(op, root, Layers.Streaming, "StabilityGate.poll")(_ =>
          gate.poll()).isDefined
        tracer.count("gate.polls")
      }
      while (!reached && left > 0)
        reached = Option(events.poll(left, TimeUnit.NANOSECONDS)).contains(want)
      if (reached)
        tracer.span(op, root, Layers.Sinks, "RegisterWriter.sweep")(_ => writer.sweep())
    }
    val latencyMs = (System.nanoTime() - t0) / 1e6
    tracer.count("frames_in_files", if (spec.kind == Corrupt) 0.0 else spec.frames.toDouble)
    val problem = if (!reached) Some(s"$name: no outcome within timeout") else check(spec, name, stem)
    OpResult(s"${spec.logger.tag}/${spec.kind}", latencyMs, problem.isEmpty, problem.getOrElse(""))
  }

  /** The published outcome of one file against its generator's values. */
  private def check(spec: Spec, name: String, stem: String): Option[String] = {
    if (spec.kind == Corrupt) {
      if (!Files.exists(dirs.failed.resolve(name))) Some(s"$name: not dead-lettered")
      else if (!raw.get(HealthKey).contains("1")) Some(s"$name: health is not 1")
      else if (raw.hgetAll(s"stats:$stem").nonEmpty) Some(s"$name: stats published")
      else None
    } else {
      val fields = raw.hgetAll(s"stats:$stem")
      val csvPath = dirs.stats.resolve(s"${stem}_stats.csv")
      val csv = if (Files.exists(csvPath)) Files.readAllLines(csvPath).asScala.toSeq else Nil
      val expectedFields = spec.expected.flatMap(s => Seq(
        s"${s.sensor}:mean" -> s.mean, s"${s.sensor}:min" -> s.min, s"${s.sensor}:max" -> s.max))
      val csvRows = csv.drop(1).map(_.split(",", -1).toSeq)
        .map(r => r.head -> r.tail.flatMap(_.toDoubleOption))
      val problems = Seq(
        Option.when(fields.size != expectedFields.size)(s"${fields.size} KV fields"),
        Option.when(!expectedFields.forall { case (f, v) =>
          fields.get(f).flatMap(_.toDoubleOption).contains(v) })("KV values differ"),
        Option.when(!csv.headOption.contains("Sensor,Mean,Minimum,Maximum"))("CSV header"),
        Option.when(csvRows != spec.expected.map(s => s.sensor -> Seq(s.mean, s.min, s.max)))(
          "CSV rows differ"),
        Option.when(!expectedFields.forall { case (f, v) =>
          registers.readFloat(registerOf(f)) == v.toFloat })("registers differ"),
        Option.when(!raw.get(s"health:lpi_${spec.logger.tag}_file_size").contains("0"))(
          "size health is not 0"))
      problems.flatten.headOption.map(p => s"$name: $p")
    }
  }

  def layerMetrics(spans: Seq[Span], tap: SparkTap, ops: Int): Map[String, Double] = {
    val files = math.max(ops, 1).toDouble
    def durs(name: String) = spans.filter(_.name == name).map(_.durMs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val kvOps = spans.filter(_.name.startsWith("KvSink."))
    val batches = tap.progress.asScala.toSeq
    val (full, empty) = batches.partition(_.getOrElse("numInputRows", 0.0) > 0)
    val execs = tap.executions.asScala.toSeq
    val catalystMs = spans.filter(_.layer == Layers.Catalyst).map(_.durMs).sum +
      full.map(_.getOrElse("queryPlanning", 0.0)).sum
    val frames = tracer.counter("frames_in_files")
    Map(
      "streaming.FilePipeline.trigger_wait_ms" -> tracer.counter("trigger_wait_ms") / files,
      "streaming.FilePipeline.batch_ms" -> mean(full.map(_.getOrElse("triggerExecution", 0.0))),
      "streaming.FilePipeline.offset_log_ms" -> mean(full.map(b =>
        Seq("latestOffset", "walCommit", "commitOffsets").map(b.getOrElse(_, 0.0)).sum)),
      "streaming.FilePipeline.empty_batches_per_file" -> empty.size / files,
      "streaming.StabilityGate.poll_ms" -> mean(durs("StabilityGate.poll")),
      "streaming.StabilityGate.polls_per_file" -> tracer.counter("gate.polls") / files,
      "sinks.RegisterWriter.sweep_ms" -> mean(durs("RegisterWriter.sweep")),
      "sinks.RegisterWriter.keys_scanned" ->
        tracer.counter("kv.scan_keys") / math.max(durs("RegisterWriter.sweep").size, 1),
      "sinks.KvSink.op_ms" -> mean(kvOps.map(_.durMs)),
      "sinks.KvSink.ops_per_file" -> kvOps.size / files,
      "sinks.CsvSink.write_ms" -> mean(execs.filter(_.fileWrite).map(e => e.endMs - e.startMs)),
      "apps.LpiAnalysis.processFile_ms" -> mean(durs("LpiAnalysis.processFile")),
      "sources.udbf.rows_decoded_per_row" ->
        (if (frames > 0) execs.map(_.udbfRows).sum / frames else 0.0),
      "catalyst.plan_ms_per_file" -> catalystMs / files,
      "execution.jobs_per_file" -> tracer.counter("jobs") / files,
      "execution.tasks_per_file" -> tap.stages.asScala.map(_.tasks).sum / files)
  }
}

object LpiWorkload {
  /** The reference's floor per file: the 40 s age gate plus one 2 s tick
    * (MIN_FILE_AGE_SEC, TICKER_INTERVAL_SEC). Recorded, never slept. */
  val ReferenceFloorMs: Double = 40000.0 + 2000.0

  val HealthKey = "health:lpi_file_processing"

  /** An op that has not finished by then fails, and the run goes on. */
  private val TimeoutNs = 20L * 1000 * 1000 * 1000
}
