package graft.sources.udbf

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, TimestampType}

/** S1 — UDBF DataSource V2: header/schema, decode round-trip, column
  * pruning, endianness, data-type coverage, and the D5 monotonic
  * chunk-concat gate (PyQStationConnectWin.py:390-413). */
class UdbfSpec extends SparkSpec {
  import UdbfWriter.ChannelSpec

  private def tmpDir = tempDir("udbf_spec").toString

  test("schema: ts TIMESTAMP + DOUBLE channels with unit metadata, names normalized") {
    val f = UdbfFixtures.ensure(tmpDir)
    val schema = spark.read.format("udbf").load(f).schema
    assert(schema.fieldNames.sameElements(Array("ts", "ch_a", "ch_b", "ch_c")))
    assert(schema("ts").dataType == TimestampType)
    assert(schema("ch_a").dataType == DoubleType)
    assert(schema("ch_a").metadata.getString("unit") == "µm/m")
    assert(schema("ch_b").metadata.getString("unit") == "°C")
    assert(schema("ts").metadata.getDouble("sample_rate") == 100.0)
  }

  test("decode round-trip: exact values and timestamps") {
    val f = UdbfFixtures.ensure(tmpDir)
    val rows = spark.read.format("udbf").load(f)
      .orderBy("ts").limit(25).collect()
    assert(rows.length == 25)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getTimestamp(0).getTime == UdbfFixtures.StartMicros / 1000 + i * 10)
      assert(r.getDouble(1) == (i % 10).toDouble)
      assert(r.getDouble(2) == (i % 4) * 0.5)
      assert(r.getDouble(3) == 2.5)
    }
    assert(spark.read.format("udbf").load(f).count() == UdbfFixtures.Frames)
  }

  test("channel names with dashes are normalized to underscores (P5)") {
    val dir = tmpDir
    val p = Paths.get(dir, "dash.dat")
    UdbfWriter.write(p, Seq(ChannelSpec("strain-NW-01", "µm/m")), 10,
      (i, _) => i.toDouble, 0L, 10.0)
    val schema = spark.read.format("udbf").load(p.toString).schema
    assert(schema.fieldNames.contains("strain_NW_01"))
  }

  test("column pruning reaches the reader (only projected channels decoded)") {
    val f = UdbfFixtures.ensure(tmpDir)
    val df = spark.read.format("udbf").load(f).select("ch_b")
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.exists(_.output.map(_.name) == Seq("ch_b")),
      s"scan output not pruned: ${leaves.map(_.output.map(_.name))}")
    assert(df.agg(sum("ch_b")).head.getDouble(0) == 1.5 * UdbfFixtures.Frames / 2)
  }

  test("big-endian files decode identically") {
    val dir = tmpDir
    val le = Paths.get(dir, "le.dat"); val be = Paths.get(dir, "be.dat")
    val chans = Seq(ChannelSpec("c1", "V"), ChannelSpec("c2", "V"))
    def gen(i: Int, j: Int): Double = i * 10.0 + j
    UdbfWriter.write(le, chans, 50, gen, 1700000000000000L, 100.0, bigEndian = false)
    UdbfWriter.write(be, chans, 50, gen, 1700000000000000L, 100.0, bigEndian = true)
    val a = spark.read.format("udbf").load(le.toString).orderBy("ts").collect()
    val b = spark.read.format("udbf").load(be.toString).orderBy("ts").collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("float32 / int16 / int32 channels decode to double") {
    val dir = tmpDir
    val p = Paths.get(dir, "types.dat")
    UdbfWriter.write(p,
      Seq(ChannelSpec("f32", "V", dataType = 8),
        ChannelSpec("i16", "V", dataType = 4),
        ChannelSpec("i32", "V", dataType = 6)),
      4, (i, j) => (i + 1) * (j + 1).toDouble, 0L, 1.0)
    val rows = spark.read.format("udbf").load(p.toString)
      .orderBy("ts").select("f32", "i16", "i32").collect()
    assert(rows.map(_.getDouble(0)).sameElements(Array(1.0, 2.0, 3.0, 4.0)))
    assert(rows.map(_.getDouble(1)).sameElements(Array(2.0, 4.0, 6.0, 8.0)))
    assert(rows.map(_.getDouble(2)).sameElements(Array(3.0, 6.0, 9.0, 12.0)))
  }

  test("D5: decoding stops at the first chunk whose start ts does not advance") {
    val dir = tmpDir
    val p = Paths.get(dir, "wrap.dat")
    // 30 frames of ms ticks that WRAP at frame 20: chunk 3 (frames 20-29)
    // restarts at tick 0 — with chunkFrames=10 the reader must keep the
    // first two chunks (20 frames) and drop the wrapped tail
    UdbfWriter.write(p, Seq(ChannelSpec("c", "V")), 30,
      (i, _) => i.toDouble, 0L, 100.0,
      ticksAt = i => if (i < 20) i * 10L else (i - 20) * 10L)
    val df = spark.read.format("udbf").option("chunkFrames", 10).load(p.toString)
    assert(df.count() == 20)
    // mid-chunk wobble is accepted wholesale (vendor checks chunk heads only)
    val p2 = Paths.get(dir, "wobble.dat")
    UdbfWriter.write(p2, Seq(ChannelSpec("c", "V")), 30,
      (i, _) => i.toDouble, 0L, 100.0,
      ticksAt = i => if (i == 15) 140L else i * 10L)
    assert(spark.read.format("udbf").option("chunkFrames", 10)
      .load(p2.toString).count() == 30)
  }

  test("firstFrameMicros is the file's min(ts), read with no Spark job; None without frames") {
    val f = UdbfFixtures.ensure(tmpDir)
    var first: Option[Long] = None
    assert(jobsRunBy { first = UdbfDataSource.firstFrameMicros(f) } == 0)
    val minTs = spark.read.format("udbf").load(f)
      .agg(unix_micros(min(col("ts")))).head().getLong(0)
    assert(first.contains(minTs) && minTs == UdbfFixtures.StartMicros)
    val empty = Paths.get(tmpDir, "empty.dat")
    UdbfWriter.write(empty, Seq(ChannelSpec("c", "V")), 0,
      (i, _) => i.toDouble, 1710504000000000L, 100.0)
    assert(UdbfDataSource.firstFrameMicros(empty.toString).isEmpty)
  }

  test("a udbf read opens its file through the session's Hadoop configuration, on the driver and in the task") {
    val f = UdbfFixtures.ensure(tmpDir)
    val settings = Seq("fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      CountingLocalFileSystem.opens.set(0)
      val df = spark.read.format("udbf").load(f)
      assert(CountingLocalFileSystem.opens.get == 1, "the driver's header read")
      assert(df.count() == UdbfFixtures.Frames)
      assert(CountingLocalFileSystem.opens.get == 2, "the task's decode")
    } finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("files without a per-record time field derive ts from frame index") {
    val dir = tmpDir
    val p = Paths.get(dir, "notime.dat")
    // actTimeDataType = 0: record times come from sampleRate alone
    UdbfWriter.write(p, Seq(ChannelSpec("c", "V")), 5,
      (i, _) => i * 2.0, 1710504000000000L, 2.0, timeField = false)
    val rows = spark.read.format("udbf").load(p.toString).orderBy("ts").collect()
    assert(rows.length == 5)
    rows.zipWithIndex.foreach { case (r, i) =>
      // 2 Hz: 500 ms per frame
      assert(r.getTimestamp(0).getTime == 1710504000000L + i * 500L)
      assert(r.getDouble(1) == i * 2.0)
    }
  }

  test("reading a directory picks up all .dat files") {
    val dir = tmpDir
    val chans = Seq(ChannelSpec("c", "V"))
    UdbfWriter.write(Paths.get(dir, "a.dat"), chans, 5, (i, _) => i.toDouble, 0L, 1.0)
    UdbfWriter.write(Paths.get(dir, "b.dat"), chans, 7, (i, _) => i.toDouble, 0L, 1.0)
    Files.writeString(Paths.get(dir, "ignored.txt"), "not a dat")
    assert(spark.read.format("udbf").load(dir).count() == 12)
  }

  test("malformed files fail cleanly, never hang or over-allocate") {
    val dir = tmpDir
    // truncated header
    val t1 = Paths.get(dir, "trunc.dat")
    Files.write(t1, Array[Byte](0, 107, 0))
    intercept[Exception](spark.read.format("udbf").load(t1.toString).collect())
    // random garbage of plausible size
    val t2 = Paths.get(dir, "garbage.dat")
    val rnd = new java.util.Random(42)
    val bytes = new Array[Byte](4096); rnd.nextBytes(bytes)
    Files.write(t2, bytes)
    intercept[Exception](spark.read.format("udbf").load(t2.toString).collect())
    // valid header, data section truncated mid-record: partial frames
    // are dropped, full frames decode
    val t3 = Paths.get(dir, "cut.dat")
    UdbfWriter.write(t3, Seq(ChannelSpec("c", "V")), 10, (i, _) => i.toDouble, 0L, 1.0)
    val full = Files.readAllBytes(t3)
    Files.write(t3, full.take(full.length - 7)) // chop inside the last record
    assert(spark.read.format("udbf").load(t3.toString).count() == 9)
  }

  test("selecting a channel missing from the file fails with a clear error") {
    val f = UdbfFixtures.ensure(tmpDir)
    val e = intercept[Exception] {
      spark.read.format("udbf").load(f).select("nope").collect()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("wide-channel file: columnar and row paths decode identically across batch boundaries") {
    val p = Paths.get(tmpDir, "wide.dat")
    val chans = (0 until 48).map(i => ChannelSpec(f"w_$i%02d", "V"))
    def gen(i: Int, j: Int): Double = math.sin(i * 0.01 + j)
    // 10000 frames > the 4096-row vector capacity → several ColumnarBatches
    UdbfWriter.write(p, chans, 10000, gen, 1700000000000000L, 100.0)
    val colDf = spark.read.format("udbf").load(p.toString)
    // the DataFrame path is really vectorized
    assert(colDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val colRows = colDf.select(unix_micros(col("ts")) +: chans.map(c => col(c.name)): _*)
      .collect()
    // the row path, decoded directly by the row reader
    val reader = new UdbfPartitionReader(p.toString, colDf.columns,
      UdbfDataSource.DefaultChunkFrames, spark.sessionState.newHadoopConf())
    val rowRows = Iterator.continually(reader.next()).takeWhile(identity)
      .map(_ => reader.get().copy()).toVector
    reader.close()
    assert(colRows.length == 10000 && rowRows.length == 10000)
    // bit-exact parity, every column of every frame, in frame order
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    val mismatched = colRows.zip(rowRows).indexWhere { case (c, r) =>
      c.getLong(0) != r.getLong(0) ||
        (1 to chans.size).exists(k => bits(c.getDouble(k)) != bits(r.getDouble(k)))
    }
    assert(mismatched == -1, s"frame $mismatched differs between the two paths")
    // pruning holds on the vectorized path: a 2-column projection reads
    // a 2-column batch
    val pruned = colDf.select("ts", "w_07")
    val leaves = pruned.queryExecution.executedPlan.collectLeaves()
    assert(leaves.exists(_.output.map(_.name) == Seq("ts", "w_07")))
    assert(math.abs(pruned.agg(sum("w_07")).head.getDouble(0) -
      (0 until 10000).map(i => math.sin(i * 0.01 + 7)).sum) < 1e-6)
  }

  test("D5 chunk gate is terminal on the columnar path too") {
    // chunk 2 starts with a NON-advancing timestamp: everything from
    // there on is a stale re-concat and must be dropped — even though
    // the vectorized reader keeps asking for more batches
    val p = Paths.get(tmpDir, "wrap_col.dat")
    UdbfWriter.write(p, Seq(ChannelSpec("c", "V")), 30, (i, _) => i.toDouble,
      0L, 1.0, ticksAt = i => if (i < 20) i * 1000L else (i - 20) * 1000L)
    val n = spark.read.format("udbf")
      .option("chunkFrames", "10").load(p.toString).count()
    assert(n == 20, s"expected the gate to end the file at frame 20, read $n")
  }
}

/** The local file system, counting `open` calls: set as the session's
  * `fs.file.impl` to see which reads go through its configuration. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFileSystem.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val opens = new java.util.concurrent.atomic.AtomicInteger
}
