package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import graft.SparkSpec
import graft.apps.{LpiAnalysis, SensAnalysis}
import graft.sinks.{InMemoryKvSink, JsonDocStore, UploadSink}
import graft.sources.udbf.UdbfWriter
import graft.sources.udbf.UdbfWriter.ChannelSpec

/** S5/T2/T3/T7/K7 — stability admission, oldest-first ordering,
  * dead-letter, and the end-to-end LPI spine (Pipeline.py semantics). */
class StreamingSpec extends SparkSpec {

  /** Gate with a controllable clock, starting at the real now. */
  private def gateWith(input: Path, staging: Path,
      stableChecks: Int = graft.core.GraftConfig.stableChecks)
      : (StabilityGate, () => Unit) = {
    var offset = 0L
    val gate = new StabilityGate(input, staging, stableChecks = stableChecks,
      clock = () => System.currentTimeMillis + offset)
    (gate, () => offset += 41000L)
  }

  /** A gate admission: the file keeps its name, somewhere under staging. */
  private def stagedAs(staged: Path, staging: Path, name: String): Boolean =
    staged.getFileName.toString == name && staged.startsWith(staging)

  test("T2: an in-flight file is refused until stable and aged") {
    val input = tempDir("gate_in"); val staging = tempDir("gate_stage")
    val (gate, age) = gateWith(input, staging)
    val f = input.resolve("a_100hz_2024-03-15_12-00-00.dat")
    Files.write(f, Array[Byte](1, 2, 3))
    // young file: never admitted regardless of stability count
    assert(gate.poll().isEmpty)
    assert(gate.poll().isEmpty)
    assert(gate.poll().isEmpty)
    // age passes: enough consecutive identical stats were seen
    age()
    assert(gate.poll().exists(stagedAs(_, staging, f.getFileName.toString)))
    assert(!Files.exists(f))
  }

  test("T2: modification resets the stability count") {
    val input = tempDir("gate_in2"); val staging = tempDir("gate_stage2")
    var offset = 0L
    val gate = new StabilityGate(input, staging, stableChecks = 2,
      clock = () => System.currentTimeMillis + offset)
    val f = input.resolve("b_100hz_2024-03-15_12-00-00.dat")
    Files.write(f, Array[Byte](1))
    offset += 41000L
    assert(gate.poll().isEmpty) // first aged observation: count 1 < 2
    // writer appends → size/mtime change → count must reset
    Files.write(f, Array[Byte](1, 2, 3, 4))
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis + 1000))
    offset += 41000L
    assert(gate.poll().isEmpty) // fresh stat observed once
    assert(gate.poll().isDefined) // second identical observation: admitted
  }

  test("T2: a file that vanished between polls starts its stability count over") {
    val input = tempDir("gate_in5"); val staging = tempDir("gate_stage5")
    val (gate, age) = gateWith(input, staging, stableChecks = 2)
    val f = input.resolve("v_100hz_2024-03-15_12-00-00.dat")
    Files.write(f, Array[Byte](1, 2, 3))
    val mtime = Files.getLastModifiedTime(f)
    age()
    assert(gate.poll().isEmpty) // count 1 < 2
    Files.delete(f)
    assert(gate.poll().isEmpty) // not listed: its count is forgotten
    // the same bytes and mtime come back: a fresh observation, count 1
    Files.write(f, Array[Byte](1, 2, 3))
    Files.setLastModifiedTime(f, mtime)
    assert(gate.poll().isEmpty)
    assert(gate.poll().exists(stagedAs(_, staging, f.getFileName.toString)))
  }

  test("gate polls, upload sweeps and doc-store reads close their directory listings") {
    val fdDir = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fdDir), "needs /proc/self/fd to count open descriptors")
    def openFds(): Long = Using.resource(Files.list(fdDir))(_.count())
    val input = tempDir("fd_in"); val staging = tempDir("fd_stage")
    val finished = tempDir("fd_fin"); val remote = tempDir("fd_remote")
    Files.write(input.resolve("young_2024-03-15_12-00-00.dat"), Array[Byte](1))
    Files.write(finished.resolve("done.dat"), Array[Byte](1))
    val gate = new StabilityGate(input, staging) // never ages: nothing admitted
    val sink = new UploadSink(finished, new UploadSink.LocalDirStore(remote),
      settle = () => ())
    val docs = new JsonDocStore(tempDir("fd_docs")) // no latest.json: both list
    val before = openFds()
    (1 to 300).foreach { _ => gate.poll(); sink.sweep(); docs.ids(); docs.latest() }
    System.gc()
    val leaked = openFds() - before
    assert(leaked < 50, s"$leaked descriptors left open by 300 rounds of listings")
  }

  test("T3: stable candidates are admitted oldest-filename-timestamp first") {
    val input = tempDir("gate_in3"); val staging = tempDir("gate_stage3")
    val (gate, age) = gateWith(input, staging)
    Seq("c_2024-03-15_12-20-00.dat", "a_2024-03-15_12-00-00.dat",
      "b_2024-03-15_12-10-00.dat").foreach { n =>
      Files.write(input.resolve(n), Array[Byte](1))
    }
    gate.poll(); age() // build stability counts, then age past the gate
    val admitted = gate.pollAll().map(_.getFileName.toString)
    assert(admitted == Seq("a_2024-03-15_12-00-00.dat",
      "b_2024-03-15_12-10-00.dat", "c_2024-03-15_12-20-00.dat"))
  }

  test("T3: unparsable filename falls back to mtime ordering") {
    val input = tempDir("gate_in4"); val staging = tempDir("gate_stage4")
    val (gate, age) = gateWith(input, staging)
    val young = input.resolve("no-timestamp-young.bin")
    val old = input.resolve("no-timestamp-old.bin")
    Files.write(young, Array[Byte](1)); Files.write(old, Array[Byte](2))
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 500000))
    gate.poll(); age()
    val admitted = gate.pollAll().map(_.getFileName.toString)
    assert(admitted == Seq("no-timestamp-old.bin", "no-timestamp-young.bin"))
  }

  test("T7: processOne archives on success, dead-letters on failure, sets health") {
    val staging = tempDir("pl_stage"); val finished = tempDir("pl_fin")
    val failed = tempDir("pl_fail"); val ckpt = tempDir("pl_ckpt")
    val kv = new InMemoryKvSink()
    val pipeline = new FilePipeline(spark, "t7", staging.toString,
      finished.toString, failed.toString, ckpt.toString, kv,
      process = { p =>
        // a process that removes its own input leaves nothing to dead-letter
        if (p.contains("gone")) { Files.delete(Paths.get(p)); sys.error("gone too soon") }
        require(!p.contains("bad"), "boom")
      })
    val good = staging.resolve("good.dat"); val bad = staging.resolve("bad.dat")
    val gone = staging.resolve("gone.dat")
    Seq(good, bad, gone).foreach(Files.write(_, Array[Byte](1)))
    // K8: capture what FilePipeline logs, next to its configured appenders
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]
    val appender = new AbstractAppender("t7-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    appender.start()
    val logger = LogManager.getContext(false)
      .getLogger(classOf[FilePipeline].getName).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try {
      assert(pipeline.processOne(good.toString))
      assert(kv.get("health:t7_file_processing").contains("0"))
      assert(Files.exists(finished.resolve("good.dat")))
      assert(events.isEmpty, "a processed file logs no dead-letter event")
      assert(!pipeline.processOne(bad.toString))
      assert(kv.get("health:t7_file_processing").contains("1"))
      assert(Files.exists(failed.resolve("bad.dat")))
      assert(!Files.exists(bad))
      // the dead-letter cause: one WARN naming file, exception and message
      assert(events.size == 1)
      val e = events.poll()
      assert(e.getLevel == Level.WARN)
      val msg = e.getMessage.getFormattedMessage
      assert(msg.contains(bad.toString), msg)
      assert(msg.contains("java.lang.IllegalArgumentException: requirement failed: boom"), msg)
      assert(e.getThrown.isInstanceOf[IllegalArgumentException])
      assert(e.getThrown.getMessage == "requirement failed: boom")

      // a failed dead-letter move still flags health, and is a second WARN
      Files.write(good, Array[Byte](1))
      assert(pipeline.processOne(good.toString))
      assert(kv.get("health:t7_file_processing").contains("0"))
      assert(!pipeline.processOne(gone.toString))
      assert(kv.get("health:t7_file_processing").contains("1"))
      val Seq(cause, move) = events.asScala.toSeq
      assert(cause.getLevel == Level.WARN && move.getLevel == Level.WARN)
      assert(cause.getMessage.getFormattedMessage.contains("gone too soon"))
      val moveMsg = move.getMessage.getFormattedMessage
      assert(moveMsg.contains(s"cannot dead-letter $gone"), moveMsg)
      assert(move.getThrown.isInstanceOf[java.nio.file.NoSuchFileException])
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("E2E: gate → stream → udbf decode → stats CSV + KV → archive; corrupt file dead-letters") {
    val input = tempDir("e2e_in"); val staging = tempDir("e2e_stage")
    val finished = tempDir("e2e_fin"); val failed = tempDir("e2e_fail")
    val stats = tempDir("e2e_stats"); val ckpt = tempDir("e2e_ckpt")

    val chans = Seq(ChannelSpec("ch_a", "µm/m"), ChannelSpec("ch_b", "°C"),
      ChannelSpec("ch_c", "V"))
    def vals(i: Int, j: Int): Double = j match {
      case 0 => (i % 10).toDouble
      case 1 => (i % 4) * 0.5
      case _ => 2.5
    }
    // aligned file: full stats; cut file: first 10 s are warm-up zeros
    // that the F4 trim must remove (ch_a then reads 5.0 flat)
    val alignedName = "fhe_100hz_2024-03-15_12-00-00.dat"
    val cutName = "fhe_100hz_2024-03-15_12-03-27.dat"
    UdbfWriter.write(input.resolve(alignedName), chans, 6000, vals,
      1710504000000000L, 100.0)
    UdbfWriter.write(input.resolve(cutName), Seq(ChannelSpec("ch_a", "V")), 6000,
      (i, _) => if (i < 1000) 0.0 else 5.0, 1710504207000000L, 100.0)
    Files.write(input.resolve("corrupt_100hz_2024-03-15_12-10-00.dat"),
      "this is not a udbf file".getBytes)
    // a cut file shorter than the 10 s warm-up: F4 leaves no rows
    val trimmedName = "fhe_100hz_2024-03-15_12-05-27.dat"
    UdbfWriter.write(input.resolve(trimmedName), Seq(ChannelSpec("ch_a", "V")), 500,
      (i, _) => i.toDouble, 1710504327000000L, 100.0)
    // a cut file with no frames at all: no min(ts) to trim from
    val emptyName = "fhe_100hz_2024-03-15_12-07-27.dat"
    UdbfWriter.write(input.resolve(emptyName), Seq(ChannelSpec("ch_a", "V")), 0,
      (i, _) => i.toDouble, 1710504447000000L, 100.0)

    val alignedBytes = Files.size(input.resolve(alignedName))
    val kv = new InMemoryKvSink()
    val analysis = new LpiAnalysis(spark, stats.toString, kv,
      refSizesKb = Map("100hz" -> alignedBytes / 1000.0))

    // T2/T3: admit all five (aged clock), oldest first
    var offset = 0L
    val gate = new StabilityGate(input, staging,
      clock = () => System.currentTimeMillis + offset)
    gate.poll(); offset += 41000L
    assert(gate.pollAll().size == 5)

    val processed = mutable.ArrayBuffer.empty[String]
    val pipeline = new FilePipeline(spark, "lpi_100hz", staging.toString,
      finished.toString, failed.toString, ckpt.toString, kv,
      process = { p =>
        processed.synchronized(processed += Paths.get(p).getFileName.toString)
        analysis.processFile(p)
      }, pathGlobFilter = "*.dat")
    val query = pipeline.start()
    try query.processAllAvailable() finally query.stop()

    // K7: archive vs dead-letter
    assert(Files.exists(finished.resolve(alignedName)))
    assert(Files.exists(finished.resolve(cutName)))
    assert(Files.exists(failed.resolve("corrupt_100hz_2024-03-15_12-10-00.dat")))
    assert(Files.exists(finished.resolve(trimmedName)))
    assert(Files.exists(finished.resolve(emptyName)))
    // health flag set by the last processed file (batch order among
    // same-mtime files is not deterministic; per-file semantics are
    // covered by the T7 test)
    assert(kv.get("health:lpi_100hz_file_processing").isDefined)

    // K1: reference CSV format, byte-exact
    val csv = Files.readString(stats.resolve("fhe_100hz_2024-03-15_12-00-00_stats.csv"))
    assert(csv ==
      """Sensor,Mean,Minimum,Maximum
        |ch_a,4.5,0.0,9.0
        |ch_b,0.75,0.0,1.5
        |ch_c,2.5,2.5,2.5
        |""".stripMargin)

    // F4: the cut file's warm-up zeros are trimmed
    val cutCsv = Files.readString(stats.resolve("fhe_100hz_2024-03-15_12-03-27_stats.csv"))
    assert(cutCsv ==
      """Sensor,Mean,Minimum,Maximum
        |ch_a,5.0,5.0,5.0
        |""".stripMargin)

    // F4 leaves the short cut file no rows: a header-only CSV, no stats
    // hash (A7), and the file is archived, not dead-lettered
    assert(Files.readString(stats.resolve("fhe_100hz_2024-03-15_12-05-27_stats.csv")) ==
      "Sensor,Mean,Minimum,Maximum\n")
    assert(!kv.scan("stats:*").contains("stats:fhe_100hz_2024-03-15_12-05-27"))
    // the zero-frame cut file ends the same way
    assert(Files.readString(stats.resolve("fhe_100hz_2024-03-15_12-07-27_stats.csv")) ==
      "Sensor,Mean,Minimum,Maximum\n")
    assert(!kv.scan("stats:*").contains("stats:fhe_100hz_2024-03-15_12-07-27"))

    // K3: stats hash with TTL, F3 size health was written. The VALUE is
    // last-processed-file state: the corrupt file's aligned name gets a
    // size verdict (1 — 23 bytes) before its decode throws, so "0" vs
    // "1" depends on batch order among same-mtime files (the same
    // nondeterminism the processing flag above documents). Per-file
    // band semantics are pinned by the r10 oracle + AppsSpec.
    val hash = kv.hgetAll("stats:fhe_100hz_2024-03-15_12-00-00")
    assert(hash("ch_a:mean") == "4.5" && hash("ch_b:max") == "1.5"
      && hash("ch_c:min") == "2.5")
    assert(Set("0", "1").contains(
      kv.get("health:lpi_100hz_file_size").getOrElse("missing")))

    // D1: a restart from the same checkpoint processes only the file
    // staged while the query was down, once, and none of the earlier ones
    val csvMtimes: Map[Path, FileTime] = Using.resource(Files.list(stats))(
      _.iterator().asScala.map(p => p -> Files.getLastModifiedTime(p)).toMap)
    assert(csvMtimes.size == 4)
    val lateName = "fhe_100hz_2024-03-15_12-20-00.dat"
    UdbfWriter.write(input.resolve(lateName), chans, 6000, vals,
      1710505200000000L, 100.0)
    gate.poll()
    val late = gate.pollAll()
    assert(late.size == 1 && stagedAs(late.head, staging, lateName), late)
    val query2 = pipeline.start()
    try query2.processAllAvailable() finally query2.stop()
    assert(processed.count(_ == lateName) == 1)
    assert(processed.groupBy(identity).values.forall(_.size == 1), processed)
    assert(processed.size == 6)
    assert(Files.exists(finished.resolve(lateName)))
    assert(kv.hgetAll("stats:fhe_100hz_2024-03-15_12-20-00")("ch_a:mean") == "4.5")
    csvMtimes.foreach { case (p, t) => assert(Files.getLastModifiedTime(p) == t, p) }
  }

  test("D1: a file re-delivered under a processed name runs again; staging ends empty") {
    val input = tempDir("redo_in"); val staging = tempDir("redo_stage")
    val finished = tempDir("redo_fin"); val failed = tempDir("redo_fail")
    val (gate, age) = gateWith(input, staging, stableChecks = 1)
    val name = "a_2024-03-15_12-00-00.dat"
    val seen = mutable.ArrayBuffer.empty[String]
    val pipeline = new FilePipeline(spark, "redo", staging.toString,
      finished.toString, failed.toString, tempDir("redo_ckpt").toString, new InMemoryKvSink(),
      process = p => seen.synchronized(seen += Files.readString(Paths.get(p))))
    // stage, run, stop; the second delivery restarts from the checkpoint
    def deliver(content: String): Unit = {
      Files.writeString(input.resolve(name), content)
      age()
      assert(gate.pollAll().size == 1)
      val q = pipeline.start()
      try q.processAllAvailable() finally q.stop()
    }
    deliver("first")
    deliver("second")
    assert(seen == Seq("first", "second"))
    assert(Files.readString(finished.resolve(name)) == "second")
    assert(Using.resource(Files.list(staging))(_.iterator().asScala.toList).isEmpty)
  }

  test("D1: the session writes checkpoints through FileSystem; an existing file is never replaced") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.spark.sql.execution.streaming.checkpointing.{
      CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    val dir = tempDir("ckpt_fm")
    val fm = CheckpointFileManager.create(new HPath(dir.toUri),
      spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[FileSystemBasedCheckpointFileManager], fm.getClass.getName)
    val file = dir.resolve("0")
    def write(text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(new HPath(file.toUri), overwriteIfPossible = overwrite)
      out.write(text.getBytes)
      out.close()
    }
    write("first", overwrite = false)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](write("second", overwrite = false))
    assert(Files.readString(file) == "first")
    // overwriting is best effort in Spark's contract: it must not throw.
    // Hadoop's FileSystem.rename refuses an existing destination, so this
    // manager keeps the first file where the FileContext one replaced it
    write("third", overwrite = true)
    assert(Files.readString(file) == "first")
    // neither refused rename leaves its temp file or that file's .crc
    assert(Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString).toSet) == Set("0", ".0.crc"))
  }

  test("E2E: the SENS flow runs under the same streaming driver") {
    val staging = tempDir("sens_stage"); val finished = tempDir("sens_fin")
    val failed = tempDir("sens_fail"); val ckpt = tempDir("sens_ckpt")
    Files.writeString(staging.resolve("probe_2024-03-15_12-00-00.csv"),
      "stamp,reading\n2024-03-15 11:00:00,1.5\n2024-03-15 12:00:00,2.5\n")
    val kv = new InMemoryKvSink()
    val sens = new SensAnalysis(spark, kv)
    val pipeline = new FilePipeline(spark, "sens", staging.toString,
      finished.toString, failed.toString, ckpt.toString, kv,
      process = sens.processFile, pathGlobFilter = "*.csv")
    val q = pipeline.start()
    try q.processAllAvailable() finally q.stop()
    assert(Files.exists(finished.resolve("probe_2024-03-15_12-00-00.csv")))
    val hash = kv.hgetAll("stats:probe_2024-03-15_12-00-00")
    assert(hash("probe_2024-03-15_12-00-00_reading") == "2.5")
    assert(kv.get("health:sens_file_processing").contains("0"))
  }

  /** Runs `pipeline` until staging holds nothing it has not handed out, then stops it. */
  private def runOnce(pipeline: FilePipeline): Unit = {
    val q = pipeline.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Stages `name` as the gate does, in an admission directory of its own. */
  private def stageAs(staging: Path, name: String): Path = {
    val dir = Files.createDirectory(staging.resolve(java.util.UUID.randomUUID.toString))
    Files.write(dir.resolve(name), Array[Byte](1))
  }

  private def listed(dir: Path): List[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  test("the pipeline's control plane runs no Spark job; a backlog goes out in T3 order") {
    val staging = tempDir("nojob_stage")
    val names = Seq("z_2024-03-15_12-00-00.dat", "a_2024-03-15_12-10-00.dat",
      "m_2024-03-15_12-20-00.dat")
    names.reverse.foreach(stageAs(staging, _))
    val seen = mutable.ArrayBuffer.empty[String]
    val ckpt = tempDir("nojob_ckpt")
    val pipeline = new FilePipeline(spark, "nojob", staging.toString,
      tempDir("nojob_fin").toString, tempDir("nojob_fail").toString,
      ckpt.toString, new InMemoryKvSink(),
      process = p => seen.synchronized(seen += Paths.get(p).getFileName.toString))
    assert(jobsRunBy(runOnce(pipeline)) == 0)
    assert(seen == names)
    assert(listed(staging).isEmpty)
    // T9: one batch per file, and no batch without one
    assert(listed(ckpt.resolve("offsets")).count(_.getFileName.toString.forall(_.isDigit)) == 3)
  }

  test("T9: a logged batch naming more files than a trigger admits fails, running none") {
    val staging = tempDir("bound_stage"); val ckpt = tempDir("bound_ckpt")
    val files = Seq("a_2024-03-15_12-00-00.dat", "b_2024-03-15_12-10-00.dat")
      .map(stageAs(staging, _))
    val pipeline = new FilePipeline(spark, "bound", staging.toString,
      tempDir("bound_fin").toString, tempDir("bound_fail").toString, ckpt.toString,
      new InMemoryKvSink(), process = p => fail(s"ran $p"))
    Files.createDirectories(ckpt.resolve("offsets"))
    Files.writeString(ckpt.resolve("offsets").resolve("0"),
      "v1\n{}\n" + StagingSource.Handout(files.map(_.toString), Nil).json)
    val e = intercept[IllegalStateException](pipeline.handleBatch(spark.emptyDataFrame, 0))
    assert(e.getMessage.contains("names 2 files"), e.getMessage)
    assert(files.forall(Files.exists(_)))
  }

  test("D1 replay: a logged batch runs its file again only while the file is still staged") {
    val input = tempDir("replay_in"); val staging = tempDir("replay_stage")
    val finished = tempDir("replay_fin"); val stats = tempDir("replay_stats")
    val ckpt = tempDir("replay_ckpt")
    val (gate, age) = gateWith(input, staging, stableChecks = 1)
    val kv = new InMemoryKvSink()
    val analysis = new LpiAnalysis(spark, stats.toString, kv)
    val runs = mutable.ArrayBuffer.empty[String]
    @volatile var crash = false
    val pipeline = new FilePipeline(spark, "replay", staging.toString, finished.toString,
      tempDir("replay_fail").toString, ckpt.toString, kv, process = { p =>
        // an Error is no dead-letter cause: it ends the query mid-batch
        if (crash) throw new AssertionError("driver lost")
        runs.synchronized(runs += Paths.get(p).getFileName.toString)
        analysis.processFile(p)
      })
    def deliver(name: String, startMicros: Long): Unit = {
      UdbfWriter.write(input.resolve(name), Seq(ChannelSpec("ch_a", "V")), 20,
        (i, _) => i.toDouble, startMicros, 1.0)
      age()
      assert(gate.pollAll().size == 1)
    }
    val first = "fhe_1hz_2024-03-15_12-00-00.dat"
    deliver(first, 1710504000000000L)
    runOnce(pipeline)
    val csvs = listed(stats).map(p => p -> Files.getLastModifiedTime(p)).toMap
    val hash = kv.hgetAll("stats:fhe_1hz_2024-03-15_12-00-00")
    assert(runs == Seq(first) && csvs.size == 1 && hash.nonEmpty)

    // a crash between the archive and the commit: the batch is logged
    // and its file has left staging, so the replay runs nothing
    val commits = ckpt.resolve("commits")
    val last = listed(commits).map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    runOnce(pipeline)
    assert(runs == Seq(first))
    assert(listed(staging).isEmpty)
    csvs.foreach { case (p, t) => assert(Files.getLastModifiedTime(p) == t, p) }
    assert(kv.hgetAll("stats:fhe_1hz_2024-03-15_12-00-00") == hash)

    // a crash before the file is processed: the replay runs it once
    val second = "fhe_1hz_2024-03-15_12-10-00.dat"
    deliver(second, 1710504600000000L)
    crash = true
    val q = pipeline.start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
    finally q.stop()
    crash = false
    runOnce(pipeline)
    assert(runs == Seq(first, second))
    assert(Files.exists(finished.resolve(second)) && listed(staging).isEmpty)
  }

  test("T7: a file whose dead-letter move failed stays staged and is never offered again") {
    val staging = tempDir("stuck_stage"); val finished = tempDir("stuck_fin")
    val failed = tempDir("stuck_fail").resolve("failed")
    val runs = mutable.ArrayBuffer.empty[String]
    val pipeline = new FilePipeline(spark, "stuck", staging.toString, finished.toString,
      failed.toString, tempDir("stuck_ckpt").toString, new InMemoryKvSink(), process = { p =>
        runs.synchronized(runs += Paths.get(p).getFileName.toString)
        require(!p.contains("bad"), "boom")
      })
    // the constructor made failedDir: a regular file in its place fails the move
    Files.delete(failed)
    Files.write(failed, Array[Byte](1))
    val bad = stageAs(staging, "bad_2024-03-15_12-00-00.dat")
    runOnce(pipeline)
    val good = stageAs(staging, "good_2024-03-15_12-10-00.dat")
    runOnce(pipeline)
    runOnce(pipeline)
    assert(runs == Seq("bad_2024-03-15_12-00-00.dat", "good_2024-03-15_12-10-00.dat"))
    assert(Files.exists(bad) && !Files.exists(good))
    assert(Files.exists(finished.resolve(good.getFileName)))
  }

  test("D1: a checkpoint with offsets this pipeline's source did not write fails, naming it") {
    val staging = tempDir("old_stage"); val ckpt = tempDir("old_ckpt")
    Files.write(staging.resolve("a_2024-03-15_12-00-00.dat"), Array[Byte](1))
    // a binaryFile stream's checkpoint: its offsets are {"logOffset":n}
    val old = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(staging.toString).select("path")
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
    try old.processAllAvailable() finally old.stop()
    val pipeline = new FilePipeline(spark, "old", staging.toString,
      tempDir("old_fin").toString, tempDir("old_fail").toString, ckpt.toString,
      new InMemoryKvSink(), process = p => fail(s"ran $p"))
    val q = pipeline.start()
    val e = try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable()) finally q.stop()
    assert(e.getMessage.contains(s"checkpoint file:$ckpt"), e.getMessage)
    assert(e.getMessage.contains("logOffset"), e.getMessage)
  }
}
