package graft.core

import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** `Tables.events` must yield a UTC `TimestampType` ts column for EVERY
  * parquet encoding a corpus writer might emit. Round 8 broke when the
  * driver regenerated testdata with micros + `isAdjustedToUTC=false`
  * (pandas/pyarrow no-tz default), which Spark 4 reads as TIMESTAMP_NTZ and
  * which then fails analysis in `unix_micros`/`window`/`session_window`.
  * These fixtures pin the normalization so corpus drift can never silently
  * take out the time-based queries again. */
class TablesSpec extends SparkSpec {
  import testImplicits._

  private def tmpSfDir(): String =
    tempDir("graft_tables").toString

  test("NTZ parquet (naive micros) normalizes to UTC TimestampType, value-identical") {
    val dir = tmpSfDir()
    val ntz = Seq(
      (1L, LocalDateTime.of(2024, 3, 1, 12, 30, 15, 500000000)),
      (2L, LocalDateTime.of(2024, 7, 4, 0, 0, 0, 0))
    ).toDF("event_id", "ts")
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    ntz.write.parquet(s"$dir/events.parquet")

    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == TimestampType)
    // UTC session zone: naive wall-clock == UTC instant (the reference's
    // naive-datetime-is-UTC convention).
    val micros = out.orderBy("event_id")
      .select(expr("unix_micros(ts)")).as[Long].collect()
    assert(micros.toSeq == Seq(
      1709296215500000L, // 2024-03-01T12:30:15.5Z
      1720051200000000L  // 2024-07-04T00:00:00Z
    ))
  }

  test("nanos-as-Long parquet normalizes to TimestampType (micros truncation)") {
    val dir = tmpSfDir()
    // Simulate the TIMESTAMP(NANOS) corpus: nanosAsLong surfaces raw Long.
    Seq((1L, 1709296215500000123L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == TimestampType)
    val micros = out.select(expr("unix_micros(ts)")).as[Long].head()
    assert(micros == 1709296215500000L)
  }

  test("already-UTC TimestampType passes through unchanged") {
    val dir = tmpSfDir()
    Seq((1L, Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L))))
      .toDF("event_id", "ts")
      .write.parquet(s"$dir/events.parquet")
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(expr("unix_micros(ts)")).as[Long].head()
      == 1700000000000000L)
  }

  test("documents/embeddings conform drift-prone columns (int32 ids, float64 embeddings)") {
    val dir = tmpSfDir()
    // a corpus writer that emits int32 ids and double embeddings
    Seq((1, "hello", 5)).toDF("doc_id", "text", "n_chars")
      .select(col("doc_id").cast("int"), col("text"), col("n_chars").cast("int"))
      .write.parquet(s"$dir/documents.parquet")
    Seq((7, Seq(0.5d, 0.25d), 3)).toDF("vec_id", "embedding", "label")
      .select(col("vec_id").cast("int"), col("embedding"), col("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val docs = Tables.documents(spark, dir)
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.schema("n_chars").dataType == LongType)
    val embs = Tables.embeddings(spark, dir)
    assert(embs.schema("vec_id").dataType == LongType)
    assert(embs.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    assert(embs.select(element_at(col("embedding"), 1)).as[Float].head() == 0.5f)
    // canonical corpus stays a no-op: no cast nodes on the real tables
    val real = Tables.documents(spark, "/root/testdata/sf0.001")
    assert(real.schema("doc_id").dataType == LongType)
    assert(!real.queryExecution.analyzed.toString.toLowerCase.contains("cast(doc_id"),
      "canonical corpus must not pay a conforming cast")
  }

  test("time-based operators analyze against an NTZ corpus (window/session_window/unix_micros)") {
    val dir = tmpSfDir()
    Seq(
      (1L, "u1", LocalDateTime.of(2024, 3, 1, 12, 0, 1)),
      (2L, "u1", LocalDateTime.of(2024, 3, 1, 12, 3, 2)),
      (3L, "u2", LocalDateTime.of(2024, 3, 1, 13, 0, 0))
    ).toDF("event_id", "user_id", "ts")
      .write.parquet(s"$dir/events.parquet")

    val ev = Tables.events(spark, dir)
    // All three constructs failed analysis on the round-8 NTZ corpus.
    assert(ev.select(expr("unix_micros(ts)")).count() == 3)
    assert(ev.groupBy(window(col("ts"), "10 minutes")).count().count() == 2)
    assert(ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().count() == 2)
  }

  test("a table's schema is inferred once per session: a second read runs no Spark job") {
    val dir = tmpSfDir()
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(jobsRunBy(Tables(spark, dir, "documents")) > 0, "the first read infers")
    assert(jobsRunBy(Tables(spark, dir, "documents")) == 0)
    assert(Tables(spark, dir, "documents").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a table rewritten with another schema in the same session is re-inferred") {
    val dir = tmpSfDir()
    val path = s"$dir/documents.parquet"
    Seq((1, "a")).toDF("doc_id", "text").write.parquet(path)
    assert(Tables(spark, dir, "documents").schema("doc_id").dataType == IntegerType)
    Seq((2L, "b", 1L)).toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(path)
    val df = Tables(spark, dir, "documents")
    assert(df.schema("doc_id").dataType == LongType)
    assert(df.columns.toSeq == Seq("doc_id", "text", "n_chars"))
    assert(df.as[(Long, String, Long)].collect().toSeq == Seq((2L, "b", 1L)))
  }

  test("a changed inference conf is re-inferred: inferTimestampNTZ flips the raw ts type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpSfDir()
    // naive micros written as pyarrow writes them: Spark's own writer also
    // stores its schema in the footer, and inference prefers that to the conf
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(MICROS,false)); }")
    val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
      spark.sessionState.newHadoopConf())
    val writer = ExampleParquetWriter.builder(out).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1709294400000000L)) // 2024-03-01T12:00
    finally writer.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val was = spark.conf.get(key)
    def rawTs = Tables(spark, dir, "events").schema("ts").dataType
    try {
      spark.conf.set(key, "true")
      assert(rawTs == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(rawTs == TimestampType)
      assert(Tables.events(spark, dir).select(expr("unix_micros(ts)")).as[Long].head()
        == 1709294400000000L)
      spark.conf.set(key, "true")
      assert(rawTs == TimestampNTZType)
    } finally spark.conf.set(key, was)
  }
}
