package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable `main` must be a documented tool: each object under
  * src/main/scala that declares `def main(` is named in README's
  * "Running" command block. A one-off probe main left behind then
  * fails here instead of accumulating unnoticed. */
class MainsDocumentedSpec extends AnyFunSuite {

  private def read(p: Path) = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Names of the top-level objects declaring a `def main(` in the main
    * sources (a main belongs to the last top-level object before it). */
  private def mains: Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val src = read(f)
      val objects = """(?m)^object\s+(\w+)""".r.findAllMatchIn(src).toList
      """def main\(""".r.findAllMatchIn(src).map { m =>
        objects.takeWhile(_.start < m.start).lastOption
          .map(_.group(1)).getOrElse(fail(s"main outside an object in $f"))
      }
    }.toSet
  }

  /** README's fenced command block under "## Running". */
  private def runBlock: String = {
    val readme = read(Paths.get("README.md"))
    val section = readme.indexOf("## Running")
    assert(section >= 0, "README has no Running section")
    val open = readme.indexOf("```", section)
    val close = readme.indexOf("```", open + 3)
    assert(open >= 0 && close > open, "README Running section has no command block")
    readme.substring(open, close)
  }

  test("every main under src/main/scala is named in README's run commands") {
    val found = mains
    assert(found.nonEmpty, "no mains found — wrong working directory?")
    val block = runBlock
    val undocumented = found.filterNot(m => block.contains(s"graft.$m"))
    assert(undocumented.isEmpty,
      s"mains missing from README's run commands: ${undocumented.toSeq.sorted.mkString(", ")}")
  }
}
