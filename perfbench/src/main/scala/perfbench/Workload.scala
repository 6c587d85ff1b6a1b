package perfbench

import org.apache.spark.sql.SparkSession

/** Outcome of one op: what it ran (`key`: a query, or a logger's file
  * kind), its latency and whether its output checked out. */
final case class OpResult(key: String, latencyMs: Double, ok: Boolean, detail: String = "")

/** A closed-loop workload driven by one client. Ops come in rounds of a
  * fixed mix (`roundSize`), and a measured window always ends on a round
  * boundary, so every run sees the same proportions. */
trait Workload {
  def roundSize: Int

  /** Everything a run does before it measures, on a fresh session: make
    * the inputs, start the engine parts the ops use, run the warm pass.
    * Returns the warm pass's results, which are checked like ops. */
  def setUp(spark: SparkSession, rep: Int): Seq[OpResult]

  /** Op number `i` of the measured window (0-based). */
  def op(i: Int): OpResult

  /** Stop what setUp started. */
  def tearDown(): Unit

  /** Per-layer metrics of this workload's own layers, from the traced
    * window's spans and listener records. */
  def layerMetrics(spans: Seq[Span], tap: SparkTap, ops: Int): Map[String, Double]
}
