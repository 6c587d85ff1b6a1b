package graft.apps

import java.nio.file.Paths

import org.apache.spark.sql.Row

import graft.sinks.{CsvSink, KvSink}

/** K1 + K3 from ONE collected [[graft.operators.ChannelStats]] result
  * of a single file: `<stem>_stats.csv` in the reference format
  * (DataConverterUDBF.py:260-265) and the `stats:<stem>` hash with a TTL
  * (udbf_file_analysis.py:69-87). No rows: header-only CSV, no hash (A7). */
private[apps] object PublishStats {

  private val CsvHeader: Seq[String] = Seq("Sensor", "Mean", "Minimum", "Maximum")

  def apply(rows: Seq[Row], statsDir: String, stem: String, kv: KvSink,
      ttlSeconds: Long): Unit = {
    CsvSink.write(Paths.get(statsDir, s"${stem}_stats.csv"), CsvHeader, rows)
    val mapping = rows.flatMap { r =>
      val sensor = r.getString(0)
      Seq(s"$sensor:mean" -> r.getDouble(1).toString,
        s"$sensor:min" -> r.getDouble(2).toString,
        s"$sensor:max" -> r.getDouble(3).toString)
    }.toMap
    if (mapping.nonEmpty) // A7
      kv.hset(s"stats:$stem", mapping, Some(ttlSeconds))
  }
}
