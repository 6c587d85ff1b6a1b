package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish corpus (TESTDATA.md).
  *
  * One parquet file (or a directory of part files, as ScaleGen writes)
  * per table under `sfDir`. All engine reads go through here so every
  * query benefits from the same scan configuration; Catalyst pushes
  * filters/column pruning into these scans automatically.
  *
  * Each table's schema is inferred once per session and file version.
  * `spark.read.parquet` without a schema starts a Spark job that reads
  * the footers every time a DataFrame is built; a sub-second query pays
  * that job once per table it reads. [[apply]] instead keeps the
  * inferred `StructType` per (session, qualified path) and builds every
  * later DataFrame with `spark.read.schema(cached).parquet(path)`, which
  * starts no job. The entry carries the version it was inferred for: the
  * length and modification time of every leaf file under the path, and
  * the session's values of the confs that shape parquet inference
  * (`InferenceConfs`). A rewritten, added or removed file, or a changed
  * conf, re-infers, so `normalizeTs`/`conform` always see the current
  * encoding. Entries of stopped sessions are evicted on every lookup, as
  * `LlmQueries`' shared-corpus cache does. A missing path is not cached:
  * inference fails with Spark's usual error.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The confs whose values change what parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private type Version = (Seq[(String, Long, Long)], Seq[Option[String]])
  private val schemas = TrieMap.empty[(SparkSession, String), (Version, StructType)]

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    schemas.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val key = (spark, fs.makeQualified(p).toString)
    val version = (leafFiles(fs, p), InferenceConfs.map(spark.conf.getOption))
    schemas.get(key) match {
      case Some((v, schema)) if v == version => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (version, schema))
        schema
    }
  }

  /** (path, length, mtime) of every file under `p`; `p` itself if it is a
    * file, nothing if it does not exist. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    try fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) leafFiles(fs, st.getPath)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => Nil }

  /** Gated scan widening — the input-skew remedy (optimization guide
    * §2.5: "one huge unsplittable file … repartition immediately after
    * the read") for scan-stage-heavy operators: round-robin repartition
    * to `defaultParallelism`, applied ONLY when the frame arrives with
    * fewer partitions. A single small parquet file (or one with a
    * single row group, which Spark cannot split regardless of
    * maxPartitionBytes) otherwise serializes the whole scan-stage
    * expression work — tokenization, signature hashing, per-row
    * scoring — onto one or two tasks (bench-measured: 1.1-1.9
    * effective cores on heavy-expression queries at sf0.1). At real
    * corpus scale the scan has ≥ cores splits and this is the
    * identity: no exchange is added at 100 TB. Row-level results are
    * unchanged; rounded float AGGREGATES over regrouped partials are
    * re-verified against the oracle wherever this is applied.
    *
    * The gate reads `queryExecution.toRdd` (not `.rdd`, which builds —
    * and then discards — a full row-deserializer conversion per call;
    * r19 advice). Caveat: this is the pre-AQE physical partition count;
    * under adaptive execution the executed width can differ (AQE only
    * coalesces, so a pre-AQE count ≥ np still means "wide enough"). */
  def widened(df: DataFrame): DataFrame = {
    val np = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < np) df.repartition(np)
    else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  /** events.ts normalization: whatever the corpus writer encoded, downstream
    * operators always see a UTC `TimestampType` column.
    *
    *  - parquet TIMESTAMP(NANOS): with `spark.sql.legacy.parquet.nanosAsLong`
    *    it surfaces as a Long that we truncate to microseconds (what DuckDB's
    *    reader does too);
    *  - parquet micros with `isAdjustedToUTC=false` (the common
    *    pandas/pyarrow no-tz output): Spark 4 reads TIMESTAMP_NTZ; we adopt
    *    the reference's naive-datetime-is-UTC convention
    *    (conv/scripts/udbf_file_analysis.py:135-143) — under the engine's UTC
    *    session zone the cast is value-identical;
    *  - already-UTC TimestampType passes through. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    normalizeTs(raw, "ts")
  }

  /** Normalize a timestamp-ish column to UTC TimestampType regardless of
    * parquet encoding (nanos-as-Long, TIMESTAMP_NTZ, or TIMESTAMP_LTZ). */
  def normalizeTs(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case _: TimestampNTZType =>
        df.withColumn(colName, org.apache.spark.sql.functions.col(colName).cast(TimestampType))
      case _ => df
    }
  }
  /** Conform drift-prone columns to their canonical types (the NTZ
    * lesson generalized): a regenerated corpus that writes int32 ids or
    * float64 embeddings must not break or silently re-type downstream
    * operators. Only listed columns are touched; a cast is added only
    * when the read type MATERIALLY differs, so the common case is a
    * no-op plan. "Materially" ignores array containsNull: a writer
    * that marks embedding elements non-nullable still reads as
    * array<float>, and casting it on every scan would defeat the
    * no-op-plan intent (values are unchanged by nullability). */
  private def sameShape(a: org.apache.spark.sql.types.DataType,
                        b: org.apache.spark.sql.types.DataType): Boolean =
    (a, b) match {
      case (x: org.apache.spark.sql.types.ArrayType,
            y: org.apache.spark.sql.types.ArrayType) =>
        sameShape(x.elementType, y.elementType)
      case _ => a == b
    }

  private def conform(df: DataFrame, want: Map[String, org.apache.spark.sql.types.DataType]): DataFrame =
    want.foldLeft(df) { case (acc, (c, t)) =>
      if (acc.columns.contains(c) && !sameShape(acc.schema(c).dataType, t))
        acc.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
      else acc
    }

  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    conform(apply(s, d, "documents"),
      Map("doc_id" -> LongType, "n_chars" -> LongType))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    conform(apply(s, d, "embeddings"),
      Map("vec_id" -> LongType, "label" -> IntegerType,
        "embedding" -> ArrayType(FloatType)))
  }
}
