package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.InMemoryKvSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T5 tumbling windows over a real sample stream + T8 heartbeat
  * listener. */
class WindowedStatsSpec extends SparkSpec {
  import testImplicits._

  test("T5: 10-minute tumbling windows reproduce per-window channel stats") {
    val dir = Files.createTempDirectory("win_src")
    val ckpt = Files.createTempDirectory("win_ckpt")
    // two 10-min windows of samples: [12:00,12:10) and [12:10,12:20)
    Seq(
      ("2024-03-15 12:01:00", 1.0, 10.0),
      ("2024-03-15 12:05:00", 3.0, 20.0),
      ("2024-03-15 12:09:59", 5.0, 30.0),
      ("2024-03-15 12:10:00", 7.0, 40.0), // boundary row belongs to window 2
      ("2024-03-15 12:15:00", 9.0, 50.0))
      .toDF("ts_s", "ch_a", "ch_b")
      .select(to_timestamp(col("ts_s")).as("ts"), col("ch_a"), col("ch_b"))
      .coalesce(1).write.parquet(dir.toString + "/batch1")

    val schema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("ch_a", DoubleType), StructField("ch_b", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir.toString + "/*")
    val windowed = WindowedStats.tumbling(stream, "ts", Seq("ch_a", "ch_b"))

    val q = windowed.writeStream.format("memory").queryName("win_out")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .orderBy("window_start", "sensor").collect()
      assert(rows.length == 4) // 2 windows x 2 sensors
      val w1a = rows(0)
      assert(w1a.getTimestamp(0).toString.contains("12:00:00"))
      assert(w1a.getTimestamp(1).toString.contains("12:10:00"))
      assert(w1a.getString(2) == "ch_a")
      assert(w1a.getDouble(3) == 3.0 && w1a.getDouble(4) == 1.0 && w1a.getDouble(5) == 5.0)
      assert(w1a.getLong(6) == 3)
      val w2a = rows(2)
      assert(w2a.getTimestamp(0).toString.contains("12:10:00"))
      assert(w2a.getDouble(3) == 8.0) // (7+9)/2 — boundary row in window 2
    } finally q.stop()
  }

  test("T5+K3: windowed stats publish to KV hashes keyed by window start") {
    val dir = Files.createTempDirectory("wkv_src")
    val ckpt = Files.createTempDirectory("wkv_ckpt")
    Seq(
      ("2024-03-15 12:01:00", 2.0), ("2024-03-15 12:05:00", 4.0),
      ("2024-03-15 12:15:00", 8.0))
      .toDF("ts_s", "ch_a")
      .select(to_timestamp(col("ts_s")).as("ts"), col("ch_a"))
      .coalesce(1).write.parquet(dir.toString + "/b1")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("ch_a", DoubleType)))
    val stream = spark.readStream.schema(schema).parquet(dir.toString + "/*")
    val kv = new InMemoryKvSink()
    val q = KvStatsSink.start(
      WindowedStats.tumbling(stream, "ts", Seq("ch_a")), kv, ckpt.toString)
    try {
      q.processAllAvailable()
      val w1 = kv.hgetAll("stats:2024-03-15T12:00:00Z")
      assert(w1("ch_a:mean") == "3.0" && w1("ch_a:min") == "2.0" && w1("ch_a:max") == "4.0")
      assert(kv.hgetAll("stats:2024-03-15T12:10:00Z")("ch_a:mean") == "8.0")
    } finally q.stop()
  }

  test("S8: live-buffer stream shape feeds the windowed-stats path") {
    val ckpt = Files.createTempDirectory("live_ckpt")
    val live = LiveBuffer.stream(spark, Seq("ch_a", "ch_b"), sampleRate = 50)
    assert(live.isStreaming)
    assert(live.schema.fieldNames.sameElements(Array("ts", "ch_a", "ch_b")))
    // the stream composes with the windowed stats operator unchanged
    val q = WindowedStats.tumbling(live, "ts", Seq("ch_a", "ch_b"),
      windowLength = "1 second", watermark = "0 seconds")
      .writeStream.format("memory").queryName("live_out")
      .outputMode("complete")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      val deadline = System.currentTimeMillis + 30000
      while (spark.table("live_out").isEmpty
        && System.currentTimeMillis < deadline) Thread.sleep(250)
      val rows = spark.table("live_out").collect()
      assert(rows.nonEmpty, "live stream produced no windows in 30 s")
      assert(rows.map(_.getString(2)).toSet.subsetOf(Set("ch_a", "ch_b")))
    } finally q.stop()
  }

  test("T8: heartbeat key refreshed on progress, TTL'd, absent when expired") {
    var now = 1000000L
    val kv = new InMemoryKvSink(() => now)
    val listener = new HealthListener(kv, ttlSeconds = 180)
    spark.streams.addListener(listener)
    val dir = Files.createTempDirectory("hb_src")
    val ckpt = Files.createTempDirectory("hb_ckpt")
    Seq(1, 2, 3).toDF("v").coalesce(1).write.parquet(dir.toString + "/b1")
    val q = spark.readStream
      .schema(StructType(Seq(StructField("v", IntegerType))))
      .parquet(dir.toString + "/*")
      .writeStream.format("memory").queryName("hb_query")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis + 10000
      while (kv.get("health:heartbeat:hb_query").isEmpty
        && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(kv.get("health:heartbeat:hb_query").contains("1"))
      now += 181000L // past TTL without progress → liveness lost
      assert(kv.get("health:heartbeat:hb_query").isEmpty)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("T8: a failed named query flags its own heartbeat key, not its id") {
    val kv = new InMemoryKvSink()
    val listener = new HealthListener(kv, ttlSeconds = 180)
    spark.streams.addListener(listener)
    val dir = Files.createTempDirectory("hb_fail_src")
    val ckpt = Files.createTempDirectory("hb_fail_ckpt")
    Seq(1, 2, 3).toDF("v").coalesce(1).write.parquet(dir.toString + "/b1")
    val q = spark.readStream
      .schema(StructType(Seq(StructField("v", IntegerType))))
      .parquet(dir.toString + "/*")
      .writeStream.queryName("hb_failing")
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new IllegalStateException("sink down")
      }
      .option("checkpointLocation", ckpt.toString).start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis + 10000
      while (!kv.get("health:heartbeat:hb_failing").contains("0")
        && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(kv.get("health:heartbeat:hb_failing").contains("0"))
      assert(kv.get(s"health:heartbeat:${q.id}").isEmpty)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
