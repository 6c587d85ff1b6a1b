package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.ReferenceFunctions.roundStat

/** T5 — tumbling measurement windows recomputed from raw sample
  * streams. The reference encodes its 10-minute windows in FILENAMES
  * (one file per window, F2 alignment — DataConverterUDBF.py:59-63);
  * when samples stream directly, `window(ts, "10 minutes")` with a
  * watermark reproduces the same boundaries and the same per-channel
  * stats vocabulary (A1), with late samples admitted until the
  * watermark passes (T4).
  *
  * Scale shape: unpivot is narrow; the windowed groupBy is one shuffle
  * on (window, sensor) with map-side partial aggregation — identical to
  * the batch ChannelStats plan, plus streaming state that the watermark
  * bounds.
  */
object WindowedStats {

  def tumbling(
      samples: DataFrame,
      tsCol: String,
      valueCols: Seq[String],
      windowLength: String = "10 minutes",
      watermark: String = "5 minutes"): DataFrame = {
    val long = samples
      .withWatermark(tsCol, watermark)
      .select(col(tsCol) +: valueCols.map(c => col(c).cast("double")): _*)
      .unpivot(Array(col(tsCol)), valueCols.map(col).toArray, "sensor", "value")
    long
      .groupBy(window(col(tsCol), windowLength), col("sensor"))
      .agg(
        roundStat(avg(col("value"))).as("mean"),
        roundStat(min(col("value"))).as("minimum"),
        roundStat(max(col("value"))).as("maximum"),
        count(lit(1)).as("n_samples"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("sensor"), col("mean"), col("minimum"), col("maximum"), col("n_samples"))
  }
}
