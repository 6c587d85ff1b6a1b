package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ReferenceFunctions.roundStat

/** A1 + R3 — per-channel statistics (SURVEY.md §2.5/§2.6).
  *
  * The reference loops over numpy columns computing round(mean/min/max, 3)
  * per channel (DataConverterUDBF.py:213-282). Spark-first shape: unpivot
  * the wide channel matrix to long `(channel, value)` rows, then one
  * hash aggregation — map-side partial aggregation makes this a single
  * small shuffle of (channels × partitions) rows regardless of input size,
  * which is the plan that survives 100 TB. A one-file input (one logger
  * file, one input partition) has no shuffle: [[graft.expr.SingleTaskExchange]]
  * runs its partial and final aggregate in the one task that reads it.
  */
object ChannelStats {

  /** Long-form stats: one output row per value column. Output schema:
    * (sensor, mean, minimum, maximum) — the reference's stats CSV columns
    * (DataConverterUDBF.py:260-265), lower-cased. */
  def apply(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    val long = unpivotValues(df, valueCols)
    long
      .groupBy(col("sensor"))
      .agg(
        roundStat(avg(col("value"))).as("mean"),
        roundStat(min(col("value"))).as("minimum"),
        roundStat(max(col("value"))).as("maximum"))
      .orderBy("sensor")
  }

  /** Extended stats vocabulary from the Sensical downstream mapping
    * (modbus/setup/mapping.json:1939-2513): stddev, percentiles, NaN and
    * null counts.
    *
    * `exact = true` uses `percentile` (buffers every group's values in
    * one aggregation buffer — kept for oracle parity and small groups).
    * The ENGINE DEFAULT is `percentile_approx`: its bounded sketch is
    * the only shape that survives groups with billions of rows;
    * `accuracy` trades sketch size for rank error (~1/accuracy). */
  def extended(df: DataFrame, valueCols: Seq[String],
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    val long = unpivotValues(df, valueCols)
    def pct(q: Double): Column =
      if (exact) expr(s"percentile(value, $q)")
      else percentile_approx(col("value"), lit(q), lit(accuracy))
    long
      .groupBy(col("sensor"))
      .agg(
        roundStat(avg(col("value"))).as("mean"),
        roundStat(stddev_samp(col("value"))).as("std"),
        roundStat(pct(0.5)).as("p50"),
        roundStat(pct(0.9)).as("p90"),
        count(when(isnan(col("value")), 1)).as("number_of_nans"),
        count(when(col("value").isNull, 1)).as("number_of_nulls"))
      .orderBy("sensor")
  }

  /** R3 — wide matrix → long (sensor, value), dropping id columns.
    * Dataset.unpivot (the built-in Expand under the hood — stays in
    * codegen, no materialized array) with column handles rather than
    * interpolated SQL, so quoting-hostile column names are safe. */
  def unpivotValues(df: DataFrame, valueCols: Seq[String]): DataFrame =
    df.select(valueCols.map(c => col(c).cast("double")): _*)
      .unpivot(Array.empty, valueCols.map(col).toArray, "sensor", "value")
}
