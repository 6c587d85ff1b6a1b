package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up `SetUps` times on fresh
  * sessions (each set-up ends with a warm pass over the workload's mix),
  * then measure the last one's closed loop for `--seconds` (whole
  * rounds), and write the result as JSON to `--out`.
  *
  * {{{
  *   perfbench.Main --workload lpi_ingest|query_tail --seed N --seconds S
  *     --trace 0|1 --work DIR --out FILE [--corpus DIR --queries a,b,..
  *     --oracle-rows a=ROWS,b=ROWS,..]
  * }}}
  * `run.py` builds the classpath and passes these; see BENCHMARK.json.
  */
object Main {

  val SetUps = 3

  /** Rounds every measured window holds; a traced window alternates
    * untraced and traced rounds, and holds at least two of each. */
  val MinRounds = 2
  val MinTracedRounds = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val jvmBootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val tracer = new Tracer(trace)
    val workload: Workload = workloadName match {
      case "lpi_ingest" => new LpiWorkload(seed, work, tracer)
      case "query_tail" =>
        val rows = opt("oracle-rows").split(",").filter(_.nonEmpty).map { kv =>
          val Array(k, v) = kv.split("=")
          k -> v.toLong
        }.toMap
        new QueryWorkload(opt("queries").split(",").toSeq, opt("corpus"), seed, rows, tracer)
      case other => sys.error(s"unknown workload $other")
    }

    val checks = Seq.newBuilder[OpResult]
    val setUpS = Seq.newBuilder[Double]
    val setUpCalibrationMs = Seq.newBuilder[Double]
    var spark: SparkSession = null
    (1 to SetUps).foreach { rep =>
      if (spark != null) { workload.tearDown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = graft.core.Sessions.builder(s"perfbench-$workloadName").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      checks ++= workload.setUp(spark, rep)
      setUpS += (System.nanoTime() - t0) / 1e9
      setUpCalibrationMs ++= Seq.fill(Speed.SetUpSamples)(Host.calibrationMs())
    }

    var next = 0
    def runOps(n: Int, speed: Speed.Sampler): Seq[OpResult] = (0 until n).map { _ =>
      next += 1
      val o = workload.op(next - 1)
      speed.sample()
      o
    }

    val tap = new SparkTap(tracer)
    if (trace) tap.install(spark)
    // traced run: rounds go untraced, traced, traced, untraced, ... so
    // that drift over the window falls on both kinds alike
    def traced(k: Int) = trace && (k % 4 == 1 || k % 4 == 2)
    val minRounds = if (trace) MinTracedRounds else MinRounds
    val window = new Host.Window
    val t0 = System.nanoTime()
    val rounds = Seq.newBuilder[Round]
    var done = 0
    // whole rounds until --seconds have passed, at least minRounds: a
    // host that the hypervisor slows measures fewer rounds, not a longer
    // window, so that a run's length stays within its budget
    val deadline = t0 + (seconds * 1e9).toLong
    while (done < minRounds || System.nanoTime() < deadline) {
      val on = traced(done)
      tracer.recording = on
      val (r0, c0, j0, s0) =
        (System.nanoTime(), Host.processCpuS(), Host.jitCpuS(), Host.machineCpu()._2)
      val speed = new Speed.Sampler
      val rs = runOps(workload.roundSize, speed)
      val r = Round(rs, (System.nanoTime() - r0 - speed.wallNs) / 1e9,
        Host.processCpuS() - c0 - speed.cpuNs / 1e9, Host.jitCpuS() - j0,
        Host.machineCpu()._2 - s0, on, speed.samples)
      if (on) { tap.drain(); tracer.recording = false }
      done += 1
      rounds += r
      window.sample()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val host = window.close()
    workload.tearDown()
    spark.stop()

    val measuredRounds = rounds.result()
    val results = measuredRounds.flatMap(_.ops)
    val ops = results.size
    val tracedOps = measuredRounds.filter(_.traced).map(_.ops.size).sum
    val all = checks.result() ++ results
    val failures = all.filterNot(_.ok)
    // the end-to-end metrics come from untraced rounds only
    val plain = measuredRounds.filterNot(_.traced)
    def median(rs: Seq[Round], f: Round => Double) = Stats.quantile(rs.map(f), 0.5)
    def perRound(f: Round => Double) = median(plain, f)
    def cpuPerOp(r: Round) = (r.cpuS - r.jitCpuS) * 1000 / r.ops.size
    val raw = Map(
      "setup_s" -> (jvmBootS + Stats.quantile(setUpS.result(), 0.5)),
      "ops_per_s" -> perRound(r => r.ops.size / r.wallS),
      "latency_ms_p50" -> Latency.bestP50(plain),
      "latency_ms_p90" -> perRound(r => Stats.quantile(r.ops.map(_.latencyMs), 0.9)),
      "cpu_ms_per_op" -> perRound(cpuPerOp))
    val setUpSpeed = Speed.factor(setUpCalibrationMs.result())
    val windowSpeed = Speed.factor(plain.flatMap(_.calibrationMs))
    val e2e = Map(
      "setup_s" -> raw("setup_s") * setUpSpeed,
      "ops_per_s" -> raw("ops_per_s") / windowSpeed,
      "latency_ms_p50" -> raw("latency_ms_p50") * windowSpeed,
      "latency_ms_p90" -> raw("latency_ms_p90") * windowSpeed,
      "cpu_ms_per_op" -> raw("cpu_ms_per_op") * windowSpeed,
      "rss_mb_peak" -> Host.rssPeakMb(),
      "fail_ratio" -> failures.size.toDouble / all.size)

    val spans = if (trace) Attribution.assignOps(tracer.all) else Nil
    val selfMs = SelfTime.byLayer(spans)
    val layers: Map[String, Double] = if (!trace) Map.empty else {
      val on = measuredRounds.filter(_.traced)
      Metrics.perLayer.map(_ -> 0.0).toMap ++
        Attribution.execution(spans, tap, tracedOps) ++
        workload.layerMetrics(spans, tap, tracedOps) ++
        Metrics.selfTimed.map(l => s"$l.self_ms_per_op" -> selfMs.getOrElse(l, 0.0) / tracedOps) ++
        Map(
          "trace.overhead_ms_per_op" -> (Latency.bestP50(on) - Latency.bestP50(plain)),
          "trace.overhead_cpu_ms_per_op" -> (median(on, cpuPerOp) - median(plain, cpuPerOp)))
    }

    val metrics =
      if (trace) layers.map { case (k, v) => k -> (v, Metrics.unitOf(k)) }
      else Metrics.endToEnd.map(k => k -> (e2e(k), Metrics.unitOf(k))).toMap
    val record = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "trace" -> trace,
      "seconds_measured" -> wallS, "ops" -> ops,
      "setup_reps_s" -> setUpS.result(),
      "jvm_boot_s" -> jvmBootS, "host" -> host,
      "end_to_end" -> e2e, "measured" -> raw, "measured_speed" -> windowSpeed,
      "setup_calibration_ms" -> setUpCalibrationMs.result(),
      "rounds" -> measuredRounds.map(r => Map("wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
        "jit_cpu_s" -> r.jitCpuS, "steal_s" -> r.stealS, "traced" -> r.traced,
        "calibration_ms" -> r.calibrationMs,
        "latencies_ms" -> r.ops.map(o => math.round(o.latencyMs)))),
      "failures" -> failures.take(5).map(_.detail)) ++
      (if (workloadName == "lpi_ingest")
         Map("reference_floor_ms" -> LpiWorkload.ReferenceFloorMs) else Map.empty)
    if (trace) Files.writeString(work.resolve("spans.jsonl"),
      tracer.all.map(s => Json.render(Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
        .mkString("", "\n", "\n"))
    Files.writeString(Paths.get(opt("out")), Json.render(Map(
      "attempted" -> all.size, "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer_self_ms" -> selfMs,
      "record" -> record)))
  }
}

/** One pass of a workload's fixed mix inside the measured window. The
  * steal in each round is recorded: a stolen CPU stalls every Spark
  * stage waiting on it. */
final case class Round(ops: Seq[OpResult], wallS: Double, cpuS: Double, jitCpuS: Double,
    stealS: Double, traced: Boolean, calibrationMs: Seq[Double])

/** How fast the host runs this JVM at the moment, against the host the
  * bounds were set on.
  *
  * The benchmark's CPUs are shared: over minutes, with the program
  * unchanged and no steal in /proc/stat, the same run took 1.45 times as
  * long and burnt as much more CPU time as in a calm minute, and a fixed
  * single-threaded job (Host.calibrationMs, a sort) slowed by the same
  * factor. So every timed figure is scaled to the calm reference host:
  * multiplied by ReferenceCalibrationMs over the median time of the
  * calibration samples taken next to it (after each set-up; after each
  * measured op, outside the op's and the round's timing). The unscaled
  * figures are in the record as `measured`. */
object Speed {
  /** Calibration time on the reference 4-vCPU host, calm. */
  val ReferenceCalibrationMs = 20.0

  val SetUpSamples = 5

  def factor(calibrationMs: Seq[Double]): Double =
    ReferenceCalibrationMs / Stats.quantile(calibrationMs, 0.5)

  /** Takes calibration samples between ops and adds up the wall and CPU
    * time they cost, which the round's figures leave out. */
  final class Sampler {
    private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    var samples: Vector[Double] = Vector.empty
    var wallNs = 0L
    var cpuNs = 0L
    def sample(): Unit = {
      val (t, c) = (System.nanoTime(), mx.getCurrentThreadCpuTime)
      samples :+= Host.calibrationMs()
      wallNs += System.nanoTime() - t
      cpuNs += mx.getCurrentThreadCpuTime - c
    }
  }
}

/** How the window's op latencies become `latency_ms_p50`.
  *
  * On a shared host the hypervisor takes CPUs from the benchmark for
  * seconds to minutes at a time, and every thread hand-off inside Spark
  * then waits for a descheduled CPU: a run whose window fell in such a
  * spell read 25-35 % slower with the program unchanged. So each op
  * counts with the fastest latency its key (a query, a logger's file
  * kind) reached anywhere in the window, the time the program needs when
  * the host lets it run; the p50 over the window's ops of those is the
  * metric. A change that slows every run of a key moves it; one that
  * slows only some runs of a key shows in `cpu_ms_per_op` and in the
  * record's latency_ms_p90 and per-round latencies. */
object Latency {
  def bestP50(rounds: Seq[Round]): Double = {
    val ops = rounds.flatMap(_.ops)
    val best = ops.groupBy(_.key).map { case (k, os) => k -> os.map(_.latencyMs).min }
    Stats.quantile(ops.map(o => best(o.key)), 0.5)
  }
}

/** The metric names this benchmark reports, with their units. */
object Metrics {
  /** Gated end-to-end metrics. latency_ms_p90 and fail_ratio are in the
    * record only: a run has too few ops for a p90, and fail_ratio is 0 on
    * correct code, so neither has a spread to bound. */
  val endToEnd: Seq[String] = Seq("setup_s", "ops_per_s", "latency_ms_p50",
    "cpu_ms_per_op", "rss_mb_peak")

  /** Layers with spans of their own. UDBF decoding runs inside Spark
    * tasks, so from outside it shows as execution time; its own metric
    * is the decode count. */
  val selfTimed: Seq[String] = Seq(Layers.Streaming, Layers.Apps, Layers.Sinks,
    Layers.Queries, Layers.Catalyst, Layers.Execution)

  val perLayer: Seq[String] = Seq(
    "queries.construct_ms", "queries.construct_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.plan_ms_per_file",
    "execution.ms", "execution.jobs", "execution.stages", "execution.tasks_per_stage",
    "execution.task_cpu_ms", "execution.gc_ms", "execution.shuffle_bytes",
    "execution.spill_bytes", "execution.task_skew",
    "execution.jobs_per_file", "execution.tasks_per_file",
    "apps.LpiAnalysis.processFile_ms", "sources.udbf.rows_decoded_per_row",
    "streaming.FilePipeline.trigger_wait_ms", "streaming.FilePipeline.batch_ms",
    "streaming.FilePipeline.offset_log_ms", "streaming.FilePipeline.empty_batches_per_file",
    "streaming.StabilityGate.poll_ms", "streaming.StabilityGate.polls_per_file",
    "sinks.RegisterWriter.sweep_ms", "sinks.RegisterWriter.keys_scanned",
    "sinks.KvSink.op_ms", "sinks.KvSink.ops_per_file", "sinks.CsvSink.write_ms") ++
    selfTimed.map(l => s"$l.self_ms_per_op") ++
    Seq("trace.overhead_ms_per_op", "trace.overhead_cpu_ms_per_op")

  def unitOf(name: String): String = name match {
    case "setup_s" => "s"
    case "ops_per_s" => "1/s"
    case "rss_mb_peak" => "MB"
    case "fail_ratio" | "sources.udbf.rows_decoded_per_row" | "execution.task_skew" => "ratio"
    case n if n.endsWith("_bytes") => "bytes"
    case n if n.endsWith("_ms") || n.contains("_ms_per_") ||
      n.contains("latency_ms") || n == "execution.ms" => "ms"
    case _ => "count"
  }
}

/** Op attribution of listener spans, and the execution metrics every
  * workload shares. */
object Attribution {

  /** Listener spans without an op go to the op whose root span contains
    * their start; spans outside every op are dropped. */
  def assignOps(spans: Seq[Span]): Seq[Span] = {
    val roots = spans.filter(s => s.parent == 0L && s.op >= 0).sortBy(_.startMs).toArray
    val rootOps = roots.map(_.op).toSet
    val starts = roots.map(_.startMs)
    def opAt(t: Double): Long = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && t <= roots(i).endMs) roots(i).op else -1L
    }
    spans.flatMap { s =>
      if (rootOps.contains(s.op)) Some(s)
      else {
        val op = opAt(s.startMs)
        Option.when(op >= 0)(s.copy(op = op))
      }
    }
  }

  def execution(spans: Seq[Span], tap: SparkTap, ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val stages = tap.stages.asScala.toSeq
    val skews = stages.filter(_.taskMs.size >= 2).flatMap { s =>
      val m = Stats.quantile(s.taskMs.map(_.toDouble), 0.5)
      Option.when(m > 0)(s.taskMs.max / m)
    }
    Map(
      "execution.jobs" -> spans.count(s => s.layer == Layers.Execution &&
        s.name.startsWith("job ")) / n,
      "execution.stages" -> stages.size / n,
      "execution.tasks_per_stage" ->
        (if (stages.isEmpty) 0.0 else stages.map(_.tasks).sum.toDouble / stages.size),
      "execution.task_cpu_ms" -> stages.map(_.cpuMs).sum / n,
      "execution.gc_ms" -> stages.map(_.gcMs).sum / n,
      "execution.shuffle_bytes" -> stages.map(_.shuffleBytes).sum / n,
      "execution.spill_bytes" -> stages.map(_.spillBytes).sum / n,
      "execution.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.quantile(skews, 0.5)))
  }
}

object Stats {
  /** Linear-interpolation quantile (NumPy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
