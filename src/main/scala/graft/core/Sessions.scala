package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** SparkSession factory for the graft engine.
  *
  * Defaults are tuned for the local[32] test harness but every knob is the
  * one you would also set on a real cluster:
  *   - AQE on (runtime re-plan: coalesce shuffle partitions, skew-join split,
  *     dynamic broadcast) — the key to surviving 100 TB skew.
  *   - shuffle.partitions sized to the local core count; on a 1000-executor
  *     cluster this would be set to ~2-3x total cores instead.
  *   - UTC session timezone (the reference treats naive datetimes as UTC,
  *     see reference conv/scripts/udbf_file_analysis.py:135-143).
  */
object Sessions {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Starting shuffle width BEFORE AQE coalescing. shuffle.partitions
    * alone is the wrong knob to grow with data: it is also the FLOOR
    * for every tiny shuffle. AQE's split is the right shape — start
    * every exchange at `initialPartitionNum` and let the coalescer
    * merge small shuffles back down — so a 100× corpus's sorts and
    * aggregations fan out to 8× the cores instead of spilling 32
    * oversized partitions (the t16/t44 third-decade sort-spill was
    * exactly this: fixed 32-way sorts over 100× rows re-merging from
    * disk). Note the coalescer's default posture is PARALLELISM-FIRST
    * (`coalescePartitions.parallelismFirst=true`): small shuffles
    * merge toward the core count at ~1 MB minimum partitions, NOT to
    * a handful of advisory-sized (64 MB) tasks. Measured at sf0.1
    * (round 14, PLANS.md): the iterative graph family's wall is the
    * same at initialPartitionNum 32 vs 256, and the same again under
    * `parallelismFirst=false` — the extra initial width costs nothing
    * measurable at small scale, so the flat 8×-cores setting stays.
    * On a real cluster this is sized ~2-3× total cores; locally
    * 8× local cores keeps per-partition sort buffers inside the heap at
    * the 100× probe scale. Env-overridable for probes. */
  def initialPartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
      (cpus.toInt * 8).toString)

  /** Engine defaults applied to ANY builder — cluster deployments bring
    * their own master/shuffle sizing and call this on their builder;
    * the configs below are the ones that hold at every scale. */
  def withEngineDefaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Local harness builder: engine defaults + local-mode sizing.
    * (nanosAsLong: the corpus' events.ts is parquet TIMESTAMP(NANOS),
    * read as Long and converted by Tables.events.)
    *
    * Streaming checkpoints go through [[LocalCheckpointFileManager]],
    * Spark's `FileSystemBasedCheckpointFileManager` that also deletes the
    * temp file of a refused rename.
    * The default FileContext manager sets the file permission on every
    * create, and without Hadoop's native library the local file system
    * does that by starting a `chmod` process. Each micro-batch creates
    * two checkpoint files (`offsets/<n>`, `commits/<n>`), so the default
    * costs two process starts per logger file. `FileSystem.create` sets no permission. On a local
    * disk both managers write a temp file and rename it after an
    * existence check, refuse a non-overwriting create onto an existing
    * file, and skip fsync. One difference: an overwriting create, which
    * Spark's contract calls best effort and which only state stores
    * issue when a batch is replayed, keeps the existing file, because
    * `FileSystem.rename` refuses an existing destination. A replayed
    * batch reads the logged offsets and writes the same state, so the
    * kept file holds it too. Cluster builders keep the default: HDFS's
    * FileContext rename is atomic. A session built elsewhere runs the
    * same, on the slower default. */
  def builder(appName: String): SparkSession.Builder =
    withEngineDefaults(SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[LocalCheckpointFileManager].getName)

  /** The local session. `getOrCreate` returns a session that already
    * exists in the JVM as it is, and one built elsewhere may lack
    * [[graft.expr.GraftExtensions]]: its queries would then fail later
    * with `UNRESOLVED_ROUTINE`, and its plans would skip
    * [[graft.expr.SingleTaskExchange]]. Such a session is refused here. */
  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_cosine")))
      throw new IllegalStateException("the existing SparkSession was built without " +
        "graft.expr.GraftExtensions: set spark.sql.extensions=graft.expr.GraftExtensions " +
        "where that session is built, or stop it before calling Sessions.local")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Spark's `FileSystemBasedCheckpointFileManager` (see [[Sessions.builder]])
  * that never leaves a temp file behind. `createAtomic` writes
  * `.<name>.<uuid>.tmp` (and its `.crc`) and renames it on close. When
  * the rename is refused because the destination exists, Spark's manager
  * throws for a non-overwriting create and returns quietly for an
  * overwriting one, and in both cases leaves the temp file in the
  * checkpoint directory. Here it is deleted, with its `.crc`, whatever
  * the outcome; the outcome itself is unchanged. */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
  override def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit =
    try super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    finally fs.delete(srcPath, false)
}
