package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_tail`: registered queries run the way `graft.Bench` times
  * them. One op builds the DataFrame through `SparkEntry.queries(name)`
  * and runs the `queryExecution.toRdd.count()` sink; the seed permutes
  * the order of every pass. Every op's row count is checked against the
  * DuckDB oracle's; `run.py` compares the full results once per build.
  */
final class QueryWorkload(names: Seq[String], corpus: String, seed: Long,
    expectedRows: Map[String, Long], tracer: Tracer) extends Workload {

  val roundSize: Int = names.size

  private var spark: SparkSession = _

  private def expected(name: String, n: Long): Option[String] =
    Option.when(!expectedRows.get(name).contains(n))(
      s"$name: $n rows, expected ${expectedRows.getOrElse(name, "an oracle answer")}")

  /** The warm pass runs every query once. */
  def setUp(spark: SparkSession, rep: Int): Seq[OpResult] = {
    this.spark = spark
    names.map(timedOp(-1L, _))
  }

  /** Pass `i / names.size` runs every query once, in a seeded order. */
  def op(i: Int): OpResult = {
    val order = new scala.util.Random(seed * 1000003L + i / names.size).shuffle(names)
    timedOp(i.toLong, order(i % names.size))
  }

  private def build(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, corpus)

  private def timedOp(op: Long, name: String): OpResult = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Layers.OpProperty, op.toString)
    val t0 = System.nanoTime()
    try {
      val n = tracer.span(op, 0L, Layers.Bench, name) { root =>
        val df = tracer.span(op, root, Layers.Queries, "construct")(_ => build(name))
        val n = tracer.span(op, root, Layers.Execution, "action")(_ =>
          df.queryExecution.toRdd.count())
        if (tracer.recording) tracer.phaseSpans(df.queryExecution, op).foreach(tracer.add)
        n
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val problem = expected(name, n)
      OpResult(name, ms, problem.isEmpty, problem.getOrElse(""))
    } catch {
      case e: Exception =>
        OpResult(name, (System.nanoTime() - t0) / 1e6, ok = false, s"$name: $e")
    } finally sc.setLocalProperty(Layers.OpProperty, null)
  }

  def tearDown(): Unit = ()

  def layerMetrics(spans: Seq[Span], tap: SparkTap, ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val constructs = spans.filter(_.name == "construct")
    val actions = spans.filter(_.name == "action")
    val jobs = spans.filter(s => s.layer == Layers.Execution && s.name.startsWith("job "))
    def within(outer: Seq[Span], s: Span) =
      outer.exists(o => o.op == s.op && s.startMs >= o.startMs && s.startMs <= o.endMs)
    def phase(p: String) =
      spans.filter(s => s.layer == Layers.Catalyst && s.name == p).map(_.durMs).sum / n
    Map(
      "queries.construct_ms" -> constructs.map(_.durMs).sum / n,
      "queries.construct_jobs" -> jobs.count(within(constructs, _)) / n,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "execution.ms" -> actions.map { a =>
        Intervals.covered(jobs.filter(j => j.op == a.op && j.startMs >= a.startMs &&
          j.startMs <= a.endMs).map(j => (j.startMs, math.min(j.endMs, a.endMs))))
      }.sum / n)
  }
}
