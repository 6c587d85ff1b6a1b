package graft.streaming

import graft.SparkSpec
import graft.sinks.InMemoryKvSink
import org.apache.spark.sql.types._

/** T8 heartbeat listener: the per-query liveness key a streaming query's
  * progress refreshes and its failure clears. */
class HealthListenerSpec extends SparkSpec {
  import testImplicits._

  test("T8: heartbeat key refreshed on progress, TTL'd, absent when expired") {
    var now = 1000000L
    val kv = new InMemoryKvSink(() => now)
    val listener = new HealthListener(kv, ttlSeconds = 180)
    spark.streams.addListener(listener)
    val dir = tempDir("hb_src")
    val ckpt = tempDir("hb_ckpt")
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
    val dir = tempDir("hb_fail_src")
    val ckpt = tempDir("hb_fail_ckpt")
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
