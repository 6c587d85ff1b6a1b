package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every Hadoop file access of the engine uses the session's
  * configuration (`sessionState.newHadoopConf()`, broadcast to tasks). A
  * `new Configuration()` re-parses Hadoop's XML defaults on every call
  * and ignores the session's `spark.hadoop.*` and `fs.<scheme>.impl`
  * settings, so a file the session can list may then fail to read. */
class SessionHadoopConfSpec extends AnyFunSuite {

  test("no file under src/main builds a Hadoop Configuration from the defaults") {
    val noArgs = raw"\bnew\s+(?:[\w.]+\.)?Configuration\b\s*+(?:\(\s*\)|(?!\())".r
    val sources = Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    }
    assert(sources.nonEmpty, "no main sources found — wrong working directory?")
    val offenders = for {
      p <- sources
      (line, no) <- new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
        .zipWithIndex
      if noArgs.findFirstIn(line).isDefined
    } yield s"$p:${no + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("new Configuration() in main:\n", "\n", ""))
  }
}
