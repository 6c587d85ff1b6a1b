package graft.streaming

import java.net.URI
import java.nio.file.{DirectoryNotEmptyException, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.KvSink

/** S5 + T1/T7/T9 + K7 — the streaming file pipeline: a Structured
  * Streaming file source over the staging directory (fed by
  * [[StabilityGate]]), one file per micro-batch, per-file try/catch with
  * dead-letter, archive-on-success, and health flags — the Spark shape
  * of conv/scripts/Pipeline.py:162-214.
  *
  *   - Source: `binaryFile` stream projected to `path` only (the binary
  *     content column is pruned away, so listing — not reading — is the
  *     cost), read with `recursiveFileLookup` because the gate stages
  *     each admitted file in its own directory, `staging/<uuid>/<name>`.
  *     `maxFilesPerTrigger=1` reproduces the single-worker backpressure
  *     (T9, Pipeline.py:60-66).
  *   - D1: the checkpoint makes file tracking exactly-once across
  *     restarts, and the unique admission path lets a file re-delivered
  *     under a name already processed run again (the stream source
  *     remembers every path it has seen), as the reference's
  *     remove-on-success set does (Pipeline.py:205-208).
  *   - The per-batch `collect()` is control-plane only: it returns at
  *     most one path string, never data rows.
  *   - Each file runs the supplied `process` (a Spark batch job); an
  *     exception is logged at WARN (file, exception class and message,
  *     throwable) and dead-letters the file to `failedDir`; a failed
  *     dead-letter move is a second WARN with its own throwable. After
  *     the move attempt, whatever its outcome,
  *     `health:<name>_file_processing` is set to 1 (TTL 60). Success
  *     archives to `finishedDir` and sets 0 (Pipeline.py:193-204).
  *     Either way the emptied admission directory is removed.
  */
final class FilePipeline(
    spark: SparkSession,
    name: String,
    stagingDir: String,
    finishedDir: String,
    failedDir: String,
    checkpointDir: String,
    kv: KvSink,
    process: String => Unit,
    pathGlobFilter: String = "*",
    triggerInterval: String = // T1 (TICKER_INTERVAL_SEC)
      s"${graft.core.GraftConfig.tickerIntervalSec} seconds") {

  Files.createDirectories(Paths.get(finishedDir))
  Files.createDirectories(Paths.get(failedDir))

  private val healthKey = s"health:${name}_file_processing"
  private val healthTtl = Some(graft.core.GraftConfig.basicTtlSeconds)
  private val filesPerTrigger = 1 // T9

  private val stagingRoot = Paths.get(stagingDir).toAbsolutePath.normalize
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def toLocal(uri: String): Path =
    if (uri.startsWith("file:")) Paths.get(URI.create(uri)) else Paths.get(uri)

  /** Process one admitted file; returns true on success. Public so batch
    * (non-streaming) tests and catch-up runs can reuse the exact
    * dead-letter semantics. */
  def processOne(pathUri: String): Boolean = {
    val p = toLocal(pathUri)
    val ok = try {
      process(p.toString)
      Files.move(p, Paths.get(finishedDir).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
      kv.set(healthKey, "0", healthTtl)
      true
    } catch {
      case e: Exception =>
        // K8: the dead-letter cause, one WARN line with the throwable
        log.warn(s"[graft] FilePipeline $name: dead-lettering $p: " +
          s"${e.getClass.getName}: ${e.getMessage}", e)
        try {
          Files.move(p, Paths.get(failedDir).resolve(p.getFileName),
            StandardCopyOption.REPLACE_EXISTING)
        } catch {
          // the file stays out of requeue (Pipeline.py:203-204), loudly
          case m: Exception =>
            log.warn(s"[graft] FilePipeline $name: cannot dead-letter $p: " +
              s"${m.getClass.getName}: ${m.getMessage}", m)
        }
        // set whether or not the move worked; after it, so a reader that
        // sees the flag finds a dead-lettered file already in failedDir
        kv.set(healthKey, "1", healthTtl)
        false
    }
    removeAdmissionDir(p)
    ok
  }

  /** Deletes the gate's `staging/<uuid>` directory once its file has
    * left; a file staged directly in the staging root leaves no
    * directory to remove. */
  private def removeAdmissionDir(file: Path): Unit = {
    val dir = file.toAbsolutePath.normalize.getParent
    if (dir != stagingRoot)
      try Files.deleteIfExists(dir)
      catch { case _: DirectoryNotEmptyException => () } // its file is still there
  }

  // control-plane collect, contractually ≤ filesPerTrigger path
  // strings per micro-batch (the source's admission bound) — never data
  private[streaming] def handleBatch(batch: DataFrame, batchId: Long): Unit =
    graft.core.Bounded
      .collect(batch.select("path"), filesPerTrigger, "FilePipeline.batch")
      .map(_.getString(0)).sorted.foreach(processOne)

  def start(): StreamingQuery =
    spark.readStream
      .format("binaryFile")
      // binaryFile's fixed schema, required explicitly for streaming;
      // only `path` is ever projected so content is pruned, not read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", pathGlobFilter)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", filesPerTrigger)
      .load(stagingDir)
      .select("path")
      .writeStream
      .queryName(s"graft-pipeline-$name")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch(handleBatch _)
      .start()
}
