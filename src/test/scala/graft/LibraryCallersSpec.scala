package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every library piece has a caller: a file under
  * src/main/scala/graft/<pkg>/ whose top-level `object`, `class` or
  * `trait` shares its file name must be named by some other file under
  * src/main (sources and resources) or perfbench/src. A piece that only
  * its own spec runs then fails here instead of staying in the tree
  * unnoticed. The mains directly under graft/ are covered by
  * `MainsDocumentedSpec`. */
class LibraryCallersSpec extends AnyFunSuite {

  /** Reference roles whose caller is the planned long-running service
    * (ROADMAP item 1), which runs the reference's containers as one
    * driver. */
  private val awaitingService = Map(
    "HealthListener" -> "T8 heartbeat: the service registers it once per session",
    "UploadSink" -> "K5 uploader: the service's tick runs its sweep",
    "EventAnalysis" -> "S7/D4 restapi event flow: the service's event ingest",
    "MistAnalysis" -> "conv_mist: the service's MIST file pipeline")

  private def files(root: String): List[Path] =
    Using.resource(Files.walk(Paths.get(root))) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList
    }

  private def read(p: Path) = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("every piece under src/main/scala/graft/<pkg>/ is named by another main or perfbench file") {
    val texts = (files("src/main") ++ files("perfbench/src")).map(p => p -> read(p)).toMap
    val base = Paths.get("src/main/scala/graft")
    val pieces = texts.keys.filter { p =>
      p.toString.endsWith(".scala") && p.startsWith(base) && p.getParent != base
    }
    assert(pieces.nonEmpty, "no library files found — wrong working directory?")
    val uncalled = pieces.toSeq.flatMap { p =>
      val name = p.getFileName.toString.stripSuffix(".scala")
      val declares = raw"(?m)^(?:[\w\[\]]+\s+)*(?:object|class|trait)\s+$name\b".r
      val named = raw"\b$name\b".r
      val called = texts.exists { case (q, src) => q != p && named.findFirstIn(src).isDefined }
      if (declares.findFirstIn(texts(p)).isDefined && !called) Some(name) else None
    }.toSet
    val unexpected = uncalled -- awaitingService.keySet
    assert(unexpected.isEmpty,
      s"library pieces with no caller in src/main or perfbench/src: ${unexpected.toSeq.sorted.mkString(", ")}")
    val stale = awaitingService.keySet -- uncalled
    assert(stale.isEmpty, s"allowlisted pieces that now have a caller: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
