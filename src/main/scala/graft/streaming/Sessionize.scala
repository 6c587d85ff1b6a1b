package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream (q21): events of one user
  * belong to the same session while consecutive gaps stay within `gap`;
  * a session ends `gap` after its last event.
  *
  * One declarative `session_window` aggregation, identical in batch and
  * streaming: one shuffle on (user, window), map-side partial merge, and
  * state bounded by the watermark when the input is a watermarked stream.
  * It emits session_start/end in epoch micros (end = last event + gap,
  * Spark's session_window bound), the event count and the value total.
  */
object Sessionize {

  /** Declarative sessions via `session_window` (batch or streaming —
    * pass a watermarked stream for the latter). */
  def sessions(events: DataFrame, tsCol: String, userCol: String,
               valueCol: String, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 4).as("total_value"))
      .select(col(userCol),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("total_value"))
}
