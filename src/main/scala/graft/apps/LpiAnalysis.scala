package graft.apps

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.ChannelStats
import graft.sinks.KvSink
import graft.sources.udbf.UdbfDataSource

/** The LPI `.dat` analysis — udbf_file_analysis.py:24-91 as a Spark
  * batch over one admitted file:
  *
  *   F1 suffix gate → F3/F7 size-band health by sample-rate routing →
  *   S1 udbf decode → F2 filename-alignment check → F4 warm-up trim
  *   (first 10 s dropped for cut files) → F5 (ts excluded by
  *   construction) → A1 round(mean/min/max, 3) per channel, collected
  *   to the driver in ONE Spark action → from those rows, K1
  *   `<stem>_stats.csv` (capitalized header, reference format
  *   DataConverterUDBF.py:260-265, written on the driver) and K3
  *   `stats:<stem>` KV hash with `{sensor}:mean/min/max` fields, TTL 60
  *   (udbf_file_analysis.py:69-87) with the A7 empty-mapping guard
  *   ([[PublishStats]]).
  *
  * Archive/dead-letter (K7/T7) belongs to the enclosing
  * [[graft.streaming.FilePipeline]].
  */
final class LpiAnalysis(
    spark: SparkSession,
    statsDir: String,
    kv: KvSink,
    refSizesKb: Map[String, Double] = Map(
      "100hz" -> graft.core.GraftConfig.refFileSize100HzKb,
      "1hz" -> graft.core.GraftConfig.refFileSize1HzKb),
    ttlSeconds: Long = graft.core.GraftConfig.basicTtlSeconds) {

  import LpiAnalysis._

  def processFile(file: String): Unit = {
    val p = Paths.get(file)
    val name = p.getFileName.toString
    require(name.toLowerCase.endsWith(".dat"), s"Called on non-.dat file: $file") // F1
    val stem = name.substring(0, name.lastIndexOf('.')) // Path.stem, as SENS and MIST cut it
    val aligned = isAligned(name)

    // F3 + F7 — size-band health, keyed by the filename's sample rate;
    // cut files and unknown rates never alarm (DataConverterUDBF.py:39-81)
    rateOf(name).foreach { rate =>
      val health: Int =
        if (!aligned) 0
        else refSizesKb.get(rate).map { refKb =>
          val bytes = java.nio.file.Files.size(p).toDouble
          val ref = refKb * 1000
          if (bytes >= ref * 0.9 && bytes <= ref * 1.1) 0 else 1
        }.getOrElse(0)
      kv.set(s"health:lpi_${rate}_file_size", health.toString, Some(ttlSeconds))
    }

    val df = spark.read.format("udbf").load(file)
    val channels = df.columns.filterNot(_ == "ts").toSeq // F5

    // F4 — warm-up trim: cut files drop their first 10 seconds
    // (sample_rate * 10 rows ≡ ts < min(ts) + 10 s for a monotone clock,
    // whose min(ts) is the first frame's, read on the driver); a cut file
    // with no frames has no min(ts) and stays empty
    val trimmed =
      if (aligned) df
      else UdbfDataSource.firstFrameMicros(file).fold(df) { firstMicros =>
        df.filter(col("ts") >= timestamp_micros(lit(firstMicros + 10000000L)))
      }

    val stats = ChannelStats(trimmed, channels) // A1, round 3 (P14)

    // K1 + K3 from one action: control-plane collect, contractually one
    // row per channel of THIS file (ChannelStats groups by sensor name)
    PublishStats(graft.core.Bounded.collect(stats, channels.size, "LpiAnalysis.stats"),
      statsDir, stem, kv, ttlSeconds)
  }
}

object LpiAnalysis {
  /** F2 — a file is a full (uncut) 10-minute window iff its filename
    * timestamp sits on a 10-minute boundary; unparsable names count as
    * cut (DataConverterUDBF.py:232-238). */
  def isAligned(fileName: String): Boolean =
    graft.streaming.StabilityGate.filenameTs(fileName)
      .exists(ts => ts.getMinute % 10 == 0 && ts.getSecond == 0)

  /** F7 — sample-rate routing from the filename
    * (udbf_file_analysis.py:57-62). */
  def rateOf(fileName: String): Option[String] = {
    val lower = fileName.toLowerCase
    if (lower.contains("100hz")) Some("100hz")
    else if (lower.contains("1hz")) Some("1hz")
    else None
  }
}
