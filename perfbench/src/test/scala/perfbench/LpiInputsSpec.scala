package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.LpiAnalysis
import graft.sinks.InMemoryKvSink

class LpiInputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import LpiInputs._

  private lazy val spark: SparkSession =
    graft.core.Sessions.builder("perfbench-spec").master("local[2]").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives the same bytes, another seed different bytes") {
    val a = specs(7L, BlockSize)
    val b = specs(7L, BlockSize)
    val c = specs(8L, BlockSize)
    assert(a.map(_.bytes.toSeq) == b.map(_.bytes.toSeq))
    assert(a.map(_.expected) == b.map(_.expected))
    assert(a.map(_.bytes.toSeq) != c.map(_.bytes.toSeq))
  }

  test("every block holds the fixed mix, and files sit in the size bands") {
    val block = specs(3L, BlockSize)
    assert(block.size == BlockSize)
    BlockMix.foreach { case (l, k, n) =>
      assert(block.count(s => s.logger == l && s.kind == k) == n)
    }
    val refKb = Map(Hz100 -> 447.2, Hz1 -> 27.2)
    block.foreach { s =>
      val ratio = s.bytes.length / (refKb(s.logger) * 1000)
      assert(ratio >= 0.9 && ratio <= 1.1, s"${s.logger.tag} ${s.bytes.length} bytes")
    }
  }

  test("the expected-stats calculator agrees with LpiAnalysis on tiny files") {
    val dir = Files.createTempDirectory("perfbench-lpi")
    val tiny = Logger(100, 1500, 3)
    Seq(Aligned -> 0L, Cut -> 1L).foreach { case (kind, k) =>
      val spec = make(tiny, kind, 11L + k)
      val name = fileName(spec, k)
      Files.write(dir.resolve(name), spec.bytes)
      val kv = new InMemoryKvSink()
      new LpiAnalysis(spark, dir.resolve("stats").toString, kv)
        .processFile(dir.resolve(name).toString)
      val got = kv.hgetAll(s"stats:${name.stripSuffix(".dat")}")
      val want = spec.expected.flatMap(s => Seq(
        s"${s.sensor}:mean" -> s.mean, s"${s.sensor}:min" -> s.min,
        s"${s.sensor}:max" -> s.max)).toMap
      assert(got.map { case (f, v) => f -> v.toDouble } == want, s"$kind")
    }
  }

  test("a corrupt file is rejected by the engine's reader") {
    val dir = Files.createTempDirectory("perfbench-lpi-bad")
    val spec = make(Hz1, Corrupt, 5L)
    val path = dir.resolve(fileName(spec, 0L))
    Files.write(path, spec.bytes)
    assertThrows[Exception](new LpiAnalysis(spark, dir.resolve("stats").toString,
      new InMemoryKvSink()).processFile(path.toString))
  }
}
