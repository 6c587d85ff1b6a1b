package graft.streaming

import java.nio.file.{DirectoryNotEmptyException, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.KvSink

/** S5 + T1/T7/T9 + K7 — the streaming file pipeline: a Structured
  * Streaming source over the staging directory (fed by
  * [[StabilityGate]]), one file per micro-batch, per-file try/catch with
  * dead-letter, archive-on-success, and health flags — the Spark shape
  * of conv/scripts/Pipeline.py:162-214.
  *
  *   - Source: [[StagingSource]] over the staging root and the gate's
  *     `staging/<uuid>/<name>` admission directories, in the gate's T3
  *     order, one file per trigger: the single-worker backpressure (T9,
  *     Pipeline.py:60-66).
  *   - A batch's file is the one its end offset names in the offset
  *     log, not a row of the batch, so the control plane runs no Spark
  *     job. A replayed batch (a crash before its commit) reads the same
  *     file, and runs `process` only if the file is still staged.
  *   - D1: the checkpoint makes file tracking exactly-once across
  *     restarts. A file re-delivered under a processed name arrives under
  *     a new admission path and runs again, as the reference's
  *     remove-on-success set does (Pipeline.py:205-208).
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

  private val stagingRoot = Paths.get(stagingDir).toAbsolutePath.normalize
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Process one admitted file; returns true on success. Public so batch
    * (non-streaming) tests and catch-up runs can reuse the exact
    * dead-letter semantics. */
  def processOne(path: String): Boolean = {
    val p = Paths.get(path)
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

  // a logged batch beyond the source's admission bound fails loudly
  private[streaming] def handleBatch(batch: DataFrame, batchId: Long): Unit = {
    val files = StagingSource.loggedFiles(Paths.get(checkpointDir), batchId)
    if (files.size > StagingSource.FilesPerTrigger) throw new IllegalStateException(
      s"FilePipeline.batch: batch $batchId in $checkpointDir names ${files.size} files, " +
        s"more than ${StagingSource.FilesPerTrigger}")
    files.filter(f => Files.exists(Paths.get(f))).foreach(processOne)
  }

  def start(): StreamingQuery =
    spark.readStream
      .format(classOf[StagingSource].getName)
      .option("pathGlobFilter", pathGlobFilter)
      .load(stagingDir)
      .writeStream
      .queryName(s"graft-pipeline-$name")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch(handleBatch _)
      .start()
}
