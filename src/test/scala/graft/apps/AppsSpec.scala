package graft.apps

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sinks.{InMemoryKvSink, JsonDocStore, KvSink}
import graft.sources.udbf.UdbfWriter
import graft.sources.udbf.UdbfWriter.ChannelSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._

/** The SENS / MIST / LPI / Event app flows. */
class AppsSpec extends SparkSpec {
  import testImplicits._

  test("SENS: parquet latest-row by first-column timestamp → KV pairs") {
    val dir = tempDir("sens")
    val f = dir.resolve("sens_2024-03-15_12-00-00.parquet").toString
    Seq(
      ("2024-03-15 11:00:00", 1.5, "a"),
      ("2024-03-15 12:00:00", 2.5, "b"), // latest
      ("2024-03-15 10:00:00", 3.5, "c"))
      .toDF("ts_text", "reading", "label")
      .coalesce(1).write.parquet(f)
    val kv = new InMemoryKvSink()
    // spark wrote a directory named *.parquet; the scan reads it whole
    new SensAnalysis(spark, kv).processFile(f)
    val stem = "sens_2024-03-15_12-00-00"
    val hash = kv.hgetAll(s"stats:$stem")
    assert(hash(s"${stem}_reading") == "2.5")
    assert(hash(s"${stem}_label") == "b")
    assert(hash(s"${stem}_timestamp").startsWith("2024-03-15T12:00:00"))
  }

  test("SENS: no parsable timestamps falls back to physical last row; null → empty") {
    val dir = tempDir("sens2")
    val f = dir.resolve("plain.csv")
    Files.writeString(f, "name,score\nx,1\ny,\nz,3\n")
    val kv = new InMemoryKvSink()
    new SensAnalysis(spark, kv).processFile(f.toString)
    val hash = kv.hgetAll("stats:plain")
    assert(hash("plain_name") == "z")
    assert(hash("plain_score") == "3")
    assert(!hash.contains("plain_timestamp"))
  }

  test("SENS: empty file and bad suffix fail like the reference") {
    val dir = tempDir("sens3")
    val empty = dir.resolve("empty.csv")
    Files.writeString(empty, "a,b\n")
    val kv = new InMemoryKvSink()
    val sens = new SensAnalysis(spark, kv)
    assert(intercept[IllegalArgumentException](
      sens.processFile(empty.toString)).getMessage.contains("no rows"))
    intercept[IllegalArgumentException](sens.processFile("/tmp/x.dat"))
  }

  test("MIST: CSV numeric channels → stats CSV + KV (real pipeline, not the stub)") {
    val dir = tempDir("mist")
    val stats = tempDir("mist_stats")
    val f = dir.resolve("ae_2024-03-15_12-00-00.csv")
    Files.writeString(f,
      "sensor_name,amplitude,counts\nA,10.0,5\nA,20.0,7\nB,30.0,9\n")
    val kv = new InMemoryKvSink()
    new MistAnalysis(spark, stats.toString, kv).processFile(f.toString)
    val csv = Files.readString(stats.resolve("ae_2024-03-15_12-00-00_stats.csv"))
    assert(csv ==
      """Sensor,Mean,Minimum,Maximum
        |amplitude,20.0,10.0,30.0
        |counts,7.0,5.0,9.0
        |""".stripMargin)
    assert(kv.hget("stats:ae_2024-03-15_12-00-00", "amplitude:mean").contains("20.0"))
  }

  /** An aligned and a cut 100 Hz LPI file of 2000 frames in `dir`:
    * channel j of frame i holds `i + j`. */
  private def alignedAndCut(dir: java.nio.file.Path): (java.nio.file.Path, java.nio.file.Path) = {
    val chans = Seq(ChannelSpec("ch_a", "V"), ChannelSpec("ch_b", "°C"))
    val aligned = dir.resolve("fhe_100hz_2024-03-15_12-00-00.dat")
    val cut = dir.resolve("fhe_100hz_2024-03-15_12-03-27.dat")
    UdbfWriter.write(aligned, chans, 2000, (i, j) => (i + j).toDouble,
      1710504000000000L, 100.0)
    UdbfWriter.write(cut, chans, 2000, (i, j) => (i + j).toDouble,
      1710504207000000L, 100.0)
    (aligned, cut)
  }

  test("LPI: a cut file runs one Spark execution and as many jobs as an aligned file") {
    val dir = tempDir("lpi_execs")
    val stats = tempDir("lpi_execs_stats")
    val (aligned, cut) = alignedAndCut(dir)
    val kv = new InMemoryKvSink()
    val lpi = new LpiAnalysis(spark, stats.toString, kv)
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionEnd => ended.incrementAndGet()
        case _ =>
      }
    }
    def executions(file: java.nio.file.Path): Int = {
      ListenerBusDrain(spark.sparkContext)
      ended.set(0)
      lpi.processFile(file.toString)
      ListenerBusDrain(spark.sparkContext)
      ended.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(executions(aligned) == 1) // stats only
      assert(executions(cut) == 1) // F4's first frame is read on the driver
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobsRunBy(lpi.processFile(cut.toString)) ==
      jobsRunBy(lpi.processFile(aligned.toString)))
    assert(kv.hget("stats:fhe_100hz_2024-03-15_12-00-00", "ch_b:max").contains("2000.0"))
    assert(Files.readString(stats.resolve("fhe_100hz_2024-03-15_12-03-27_stats.csv")) ==
      """Sensor,Mean,Minimum,Maximum
        |ch_a,1499.5,1000.0,1999.0
        |ch_b,1500.5,1001.0,2000.0
        |""".stripMargin)
    assert(kv.hgetAll("stats:fhe_100hz_2024-03-15_12-03-27") == Map(
      "ch_a:mean" -> "1499.5", "ch_a:min" -> "1000.0", "ch_a:max" -> "1999.0",
      "ch_b:mean" -> "1500.5", "ch_b:min" -> "1001.0", "ch_b:max" -> "2000.0"))
  }

  test("LPI and MIST: a one-file stats action runs one Spark job") {
    // one logger file is one input partition, so ChannelStats' partial
    // and final aggregates run in one task with no shuffle-map job
    val dir = tempDir("one_job")
    val stats = tempDir("one_job_stats")
    val (aligned, cut) = alignedAndCut(dir)
    val kv = new InMemoryKvSink()
    val lpi = new LpiAnalysis(spark, stats.toString, kv)
    assert(jobsRunBy(lpi.processFile(aligned.toString)) == 1)
    assert(jobsRunBy(lpi.processFile(cut.toString)) == 1)
    assert(kv.hgetAll("stats:fhe_100hz_2024-03-15_12-00-00") == Map(
      "ch_a:mean" -> "999.5", "ch_a:min" -> "0.0", "ch_a:max" -> "1999.0",
      "ch_b:mean" -> "1000.5", "ch_b:min" -> "1.0", "ch_b:max" -> "2000.0"))

    val mist = dir.resolve("ae_2024-03-15_12-00-00.csv")
    Files.writeString(mist, "sensor_name,amplitude,counts\nA,10.0,5\nA,20.0,7\nB,30.0,9\n")
    // MIST's CSV read infers its schema with jobs of its own; the stats
    // action adds one
    val inferJobs = jobsRunBy(
      spark.read.option("header", "true").option("inferSchema", "true").csv(mist.toString))
    assert(jobsRunBy(new MistAnalysis(spark, stats.toString, kv).processFile(mist.toString)) ==
      inferJobs + 1)
    assert(kv.hgetAll("stats:ae_2024-03-15_12-00-00") == Map(
      "amplitude:mean" -> "20.0", "amplitude:min" -> "10.0", "amplitude:max" -> "30.0",
      "counts:mean" -> "7.0", "counts:min" -> "5.0", "counts:max" -> "9.0"))
  }

  test("LPI: a mixed-case .Dat suffix is cut from the stem, as SENS and MIST cut theirs") {
    val file = tempDir("stem").resolve("fhe_1hz_2024-03-15_12-00-00.Dat")
    val stats = tempDir("stem_stats")
    UdbfWriter.write(file, Seq(ChannelSpec("ch_a", "V")), 20, (i, _) => i.toDouble,
      1710504000000000L, 1.0)
    val kv = new InMemoryKvSink()
    new LpiAnalysis(spark, stats.toString, kv).processFile(file.toString)
    assert(kv.scan("stats:*") == Seq("stats:fhe_1hz_2024-03-15_12-00-00"))
    assert(Files.exists(stats.resolve("fhe_1hz_2024-03-15_12-00-00_stats.csv")))
  }

  test("LPI, MIST and SENS write every key with BASIC_REDIS_TTL by default") {
    val ttls = scala.collection.concurrent.TrieMap.empty[String, Option[Long]]
    val kv = new KvSink {
      private val store = new InMemoryKvSink()
      override def hset(key: String, mapping: Map[String, String], ttl: Option[Long]): Unit = {
        ttls.put(key, ttl); store.hset(key, mapping, ttl)
      }
      override def set(key: String, value: String, ttl: Option[Long]): Unit = {
        ttls.put(key, ttl); store.set(key, value, ttl)
      }
      override def get(key: String): Option[String] = store.get(key)
      override def hget(key: String, field: String): Option[String] = store.hget(key, field)
      override def hgetAll(key: String): Map[String, String] = store.hgetAll(key)
      override def scan(pattern: String): Seq[String] = store.scan(pattern)
    }
    val dir = tempDir("ttl")
    val stats = tempDir("ttl_stats").toString
    val lpi = dir.resolve("fhe_1hz_2024-03-15_12-00-00.dat")
    UdbfWriter.write(lpi, Seq(ChannelSpec("ch_a", "V")), 20, (i, _) => i.toDouble,
      1710504000000000L, 1.0)
    new LpiAnalysis(spark, stats, kv).processFile(lpi.toString)
    val mist = dir.resolve("ae_2024-03-15_12-00-00.csv")
    Files.writeString(mist, "amplitude\n1.0\n2.0\n")
    new MistAnalysis(spark, stats, kv).processFile(mist.toString)
    val sens = dir.resolve("plain.csv")
    Files.writeString(sens, "name,score\nx,1\n")
    new SensAnalysis(spark, kv).processFile(sens.toString)
    assert(ttls.keySet == Set("health:lpi_1hz_file_size", "stats:fhe_1hz_2024-03-15_12-00-00",
      "stats:ae_2024-03-15_12-00-00", "stats:plain"))
    val ttl = Some(graft.core.GraftConfig.basicTtlSeconds)
    assert(ttls.filter(_._2 != ttl).isEmpty, s"keys not written with TTL $ttl: $ttls")
  }

  test("Event: gate → fetch → validate → hash → dedup → idempotent store") {
    val store = new JsonDocStore(tempDir("events"))
    val urls = Seq(
      "https://meta.example/42",
      "https://meta.example/42", // duplicate URL → same event id
      "HTTP://meta.example/43",
      "ftp://bad.example/44",    // F9 reject
      "not a url").toDF("url")
    val out = EventAnalysis.ingest(spark, urls, "url", new EventAnalysis.FakeFetcher())
    val rows = out.collect()
    assert(rows.count(_.getBoolean(3)) == 2) // two valid distinct events
    val invalid = rows.filter(r => !r.getBoolean(3))
    assert(invalid.forall(_.getString(4) != null)) // carries 400-style reason
    val fixedNow = java.time.Instant.parse("2025-04-22T12:00:00Z")
    val storedIds = EventAnalysis.store(out, store, now = () => fixedNow)
    assert(storedIds.length == 2)
    // P15 — stored_at stamp in every stored record
    assert(store.get(storedIds.head).get.contains("\"stored_at\":\"2025-04-22T12:00:00Z\""))
    // idempotent: a second batch stores nothing new
    assert(EventAnalysis.store(out, store).isEmpty)
    assert(store.ids().length == 2)
    storedIds.foreach(id => assert(id.matches("[0-9a-f]{16}")))
  }

  test("Event: store enforces its per-batch cardinality contract (Bounded)") {
    val store = new JsonDocStore(tempDir("events-bounded"))
    val urls = (1 to 5).map(i => s"https://meta.example/$i").toDF("url")
    val out = EventAnalysis.ingest(spark, urls, "url", new EventAnalysis.FakeFetcher())
    val ex = intercept[IllegalStateException] {
      EventAnalysis.store(out, store, maxBatch = 3)
    }
    assert(ex.getMessage.contains("EventAnalysis.store"))
    assert(store.ids().isEmpty, "a violating batch must store nothing")
  }

  test("Event: missing required metadata fields are rejected with reasons") {
    val noDataUrl = new EventAnalysis.MetadataFetcher {
      override def fetch(url: String): String =
        """{"message_type":"x","created_at":"2025-01-01"}"""
    }
    val out = EventAnalysis.ingest(spark,
      Seq("https://meta.example/1").toDF("url"), "url", noDataUrl).collect()
    assert(!out.head.getBoolean(3))
    assert(out.head.getString(4).contains("data_url"))
  }
}
