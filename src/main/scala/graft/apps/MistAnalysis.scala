package graft.apps

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}

import graft.operators.ChannelStats
import graft.sinks.KvSink

/** The MIST acoustic-emission CSV analysis. The reference ships this as
  * an empty stub (conv/scripts/mist_file_analysis.py:27-29) while its
  * requirements name a CSV-based DTA toolchain — per SURVEY.md §7.5.7 we
  * implement it as a REAL pipeline rather than replicate the stub:
  *
  *   F1 gate (.csv) → header CSV scan → per-numeric-column channel
  *   stats (A1: round(mean/min/max, 3), non-numeric columns excluded —
  *   the F5 analogue), collected once → K1 `<stem>_stats.csv` + K3
  *   `stats:<stem>` hash from the same rows.
  */
final class MistAnalysis(
    spark: SparkSession,
    statsDir: String,
    kv: KvSink,
    ttlSeconds: Long = graft.core.GraftConfig.basicTtlSeconds) {

  def processFile(file: String): Unit = {
    val p = Paths.get(file)
    val name = p.getFileName.toString
    require(name.toLowerCase.endsWith(".csv"), s"Called on non-.csv file: $file") // F1
    val stem = name.substring(0, name.lastIndexOf('.'))

    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(file)
    val numericCols = df.schema.fields.collect {
      case f if Set[org.apache.spark.sql.types.DataType](
        DoubleType, FloatType, IntegerType, LongType).contains(f.dataType) => f.name
    }.toSeq
    if (numericCols.isEmpty)
      throw new IllegalArgumentException(s"No numeric channels in $file")

    // one row per numeric channel of ONE file (ChannelStats groups by
    // sensor name)
    PublishStats(graft.core.Bounded.collect(ChannelStats(df, numericCols), numericCols.size,
      "MistAnalysis channel stats"), statsDir, stem, kv, ttlSeconds)
  }
}
