package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast; suites must not mutate session state). */
object TestSession {
  lazy val spark: SparkSession = {
    // fresh warehouse per JVM: saveAsTable tests must not collide with
    // leftover ./spark-warehouse state from earlier runs
    val warehouse = Files.createTempDirectory("graft_wh")
    sys.addShutdownHook(FileUtils.deleteQuietly(warehouse.toFile))
    graft.core.Sessions
      .builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** `import testImplicits._` for .toDF/.toDS in suites. */
  protected lazy val testImplicits: org.apache.spark.sql.SQLImplicits =
    spark.implicits

  /** Spark jobs started while `body` runs, counted once the listener bus
    * has delivered every event. */
  protected def jobsRunBy(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    started.get
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory under the system temp dir, deleted with its
    * contents once the suite has run. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}
