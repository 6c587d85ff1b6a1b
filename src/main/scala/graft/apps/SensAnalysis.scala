package graft.apps

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.sinks.KvSink

/** The SENS table-file analysis — sens_file_analysis.py:13-110 as a
  * Spark batch over one admitted file:
  *
  *   F1 readability gate (.parquet/.csv only) → S2/S3 scan → A7 empty
  *   guard → A2 latest-row selection (first column parsed as timestamps,
  *   null-coerced; all-null ⇒ physical last row with an ordinal
  *   tiebreaker, mirroring pandas' stable-sort determinism O1) →
  *   R2/P9 row → KV pairs `{stem}_{col}` (nulls → "", timestamps → ISO)
  *   plus `{stem}_timestamp` → K3 hash publish with TTL
  *   `BASIC_REDIS_TTL` (default 60).
  */
final class SensAnalysis(
    spark: SparkSession,
    kv: KvSink,
    ttlSeconds: Long = graft.core.GraftConfig.basicTtlSeconds) {

  def processFile(file: String): Unit = {
    val p = Paths.get(file)
    val name = p.getFileName.toString
    val lower = name.toLowerCase
    require(lower.endsWith(".parquet") || lower.endsWith(".csv"),
      s"Unsupported filetype (need .parquet or .csv): $file") // F1
    val stem = name.substring(0, name.lastIndexOf('.'))

    val df =
      if (lower.endsWith(".parquet")) spark.read.parquet(file)
      else spark.read.option("header", "true").option("inferSchema", "true").csv(file)

    if (df.isEmpty) // A7
      throw new IllegalArgumentException(s"File has no rows: $file")

    val (row, latestTs) = latestRow(df)

    val mapping: Map[String, String] =
      latestTs.map(ts => s"${stem}_timestamp" -> ts).toMap ++
        df.columns.zipWithIndex.map { case (c, i) =>
          val v = row.get(i) match {
            case null => "" // P9 null → empty string
            case t: java.sql.Timestamp =>
              t.toInstant.toString // P9 ISO-8601
            case other => other.toString
          }
          s"${stem}_$c" -> v
        }.toMap

    if (mapping.isEmpty)
      throw new IllegalArgumentException("Empty mapping, nothing to push.")
    kv.hset(s"stats:$stem", mapping, Some(ttlSeconds)) // K3
  }

  /** A2 — the reference's fallback chain (sens_file_analysis.py:66-90):
    * parse the FIRST column as timestamps with coerce semantics; if any
    * parse, take the max-timestamp row; else take the physical last row
    * (ordinal = monotonic id stands in for pandas' positional index). */
  private def latestRow(df: DataFrame): (org.apache.spark.sql.Row, Option[String]) = {
    val firstCol = df.columns.head
    val withTs = df.withColumn("__ts",
      df.schema.head.dataType match {
        case TimestampType => col(firstCol)
        case _ => try_to_timestamp(col(firstCol).cast("string"))
      })
      .withColumn("__ord", monotonically_increasing_id())
    val anyTs = withTs.filter(col("__ts").isNotNull).limit(1).count() > 0
    if (anyTs) {
      val best = withTs.filter(col("__ts").isNotNull)
        .orderBy(col("__ts").desc, col("__ord").desc).limit(1)
        .collect().head
      val ts = best.getAs[java.sql.Timestamp]("__ts").toInstant.toString
      (trim(best, df.columns.length), Some(ts))
    } else {
      val last = withTs.orderBy(col("__ord").desc).limit(1).collect().head
      (trim(last, df.columns.length), None)
    }
  }

  private def trim(r: org.apache.spark.sql.Row, n: Int): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(r.toSeq.take(n))
}
