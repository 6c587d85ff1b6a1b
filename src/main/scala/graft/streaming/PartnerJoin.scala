package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** J2 — stream–stream partner-file join (udbf_file_analysis.py:111-152):
  * the reference's alarm path polls up to 30–240 s for the companion
  * 100 Hz file / stats CSV / Allsat file that shares a measurement
  * window with an alarmed 1 Hz file. In Spark that imperative wait IS
  * Structured Streaming's watermark-bounded stream-stream join: each
  * side is a stream of file-arrival events keyed by the
  * filename-embedded window timestamp; a late partner buffers in join
  * state until the watermark (the poll deadline) expires it.
  *
  * State is bounded: both sides are watermarked and the join carries a
  * time-range condition, so Spark evicts unmatched rows once the
  * watermark passes maxWait — the exact analogue of the reference's
  * 240 s give-up.
  */
object PartnerJoin {

  /** A streaming DataFrame of file-arrival events under `dir`:
    * (path, window_key, event_ts) with the window key recovered from the
    * filename timestamp (P7 — helper/utility.py:8-27). */
  def fileEvents(spark: SparkSession, dir: String,
      pathGlobFilter: String = "*"): DataFrame = {
    val pattern = graft.functions.ReferenceFunctions.FilenameTsPattern
    spark.readStream
      .format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", pathGlobFilter)
      .load(dir)
      .select(col("path"),
        concat_ws("_",
          regexp_extract(col("path"), pattern, 1),
          regexp_extract(col("path"), pattern, 2)).as("window_key"),
        // try_: a keyless filename must yield null, not an ANSI parse error
        try_to_timestamp(
          concat_ws(" ",
            regexp_extract(col("path"), pattern, 1),
            regexp_extract(col("path"), pattern, 2)),
          lit("yyyy-MM-dd HH-mm-ss")).as("event_ts"))
      .filter(col("window_key") =!= "" && col("event_ts").isNotNull)
  }

  /** Inner-join two file-event streams on the window key, waiting at
    * most `maxWait` for the partner (watermark + time-range bound). */
  def joinPartners(left: DataFrame, right: DataFrame,
      maxWait: String = "4 minutes"): DataFrame = {
    val l = left
      .withColumnRenamed("path", "left_path")
      .withColumnRenamed("event_ts", "left_ts")
      .withWatermark("left_ts", maxWait)
    val r = right
      .withColumnRenamed("path", "right_path")
      .withColumnRenamed("event_ts", "right_ts")
      .withWatermark("right_ts", maxWait)
    l.join(r,
      l("window_key") === r("window_key") &&
        r("right_ts") >= l("left_ts") - expr(s"INTERVAL $maxWait") &&
        r("right_ts") <= l("left_ts") + expr(s"INTERVAL $maxWait"))
      .select(l("window_key"), col("left_path"), col("right_path"))
  }
}
