package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ReferenceFunctions.kvValue

/** R1 — reshape to the reference's flat KV form (SURVEY.md §2.6):
  * stats rows (sensor, mean, minimum, maximum) → KV rows
  * `"{sensor}:mean" → "…"` (udbf_file_analysis.py:69-83). R2, one wide
  * row → `"{prefix}_{col}"` pairs, is built on the driver by
  * `graft.apps.SensAnalysis`.
  *
  * Emitted as exploded (kv_key, kv_value) rows rather than a MapType so
  * the result is a plain relational table (joinable, sinkable, and
  * oracle-comparable); a KV sink can `collect_map` per key in foreachBatch.
  */
object KvReshape {

  /** R1 — stats table → KV rows. `statCols` are the stat column names
    * (e.g. mean/minimum/maximum); keys become `{sensor}:{stat}`.
    * Dataset.unpivot takes column handles, not interpolated SQL, so
    * arbitrary column names (quotes, backticks) are safe. */
  def statsToKv(stats: DataFrame, sensorCol: String, statCols: Seq[String]): DataFrame =
    stats
      .unpivot(Array(col(sensorCol)), statCols.map(col).toArray, "stat", "value")
      .select(
        concat(col(sensorCol), lit(":"), col("stat")).as("kv_key"),
        kvValue(col("value")).as("kv_value"))
}
