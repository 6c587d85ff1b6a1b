package graft.streaming

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

/** T2 + T3 — file-stability admission gate with oldest-first ordering
  * (conv/scripts/Pipeline.py:96-160).
  *
  * A file is admitted only when BOTH hold (Pipeline.py:96-119):
  *   - its (size, mtime) stat has been observed identical on at least
  *     `stableChecks` consecutive polls (any change resets the count,
  *     and so does a poll that does not list the file);
  *   - its mtime is older than `minFileAgeMs` (files younger than the
  *     age gate still accumulate stability counts but are never
  *     admitted, exactly like the reference's early-return branch).
  *
  * Among stable candidates the one with the OLDEST filename-embedded
  * timestamp is admitted first — one per poll, mirroring schedule_next
  * (Pipeline.py:135-160); timestamp extraction per helper/utility.py:
  * 8-27 (two regex groups joined by a space, mtime fallback).
  *
  * Spark has no built-in for this (SURVEY.md §7.4): the gate runs as a
  * staging janitor that MOVES admitted files into the directory
  * [[StagingSource]] watches. Each admitted file gets a fresh
  * directory, `staging/<uuid>/<name>`: the source never offers a
  * handed-out path again while it is staged, so a unique path keeps a
  * re-delivered name apart from an earlier copy still staged, and a
  * staged file is never overwritten before it is processed. The file name
  * (and so the archive name) and its mtime are unchanged. `clock` is
  * injectable so the age gate is testable without sleeping.
  */
final class StabilityGate(
    inputDir: Path,
    stagingDir: Path,
    stableChecks: Int = graft.core.GraftConfig.stableChecks,
    minFileAgeMs: Long = graft.core.GraftConfig.minFileAgeMs,
    clock: () => Long = () => System.currentTimeMillis) {

  import StabilityGate.{StatInfo, admissionKey}
  private val seen = mutable.Map.empty[Path, StatInfo]

  Files.createDirectories(stagingDir)

  private def isStable(p: Path): Boolean = {
    val st = try {
      Some((Files.size(p), Files.getLastModifiedTime(p).toMillis))
    } catch {
      case _: java.nio.file.NoSuchFileException => seen.remove(p); None
      case _: java.io.IOException => None
    }
    st match {
      case None => false
      case Some((size, mtime)) =>
        val tooYoung = (clock() - mtime) < minFileAgeMs
        seen.get(p) match {
          case Some(prev) if prev.size == size && prev.mtime == mtime =>
            prev.stableCount += 1
          case _ =>
            seen(p) = StatInfo(size, mtime, 1)
        }
        !tooYoung && seen(p).stableCount >= stableChecks
    }
  }

  /** One scan: admit (move to its own directory under staging) the
    * oldest stable candidate, if any. Returns the staged path. */
  def poll(): Option[Path] = {
    val files =
      if (Files.isDirectory(inputDir))
        Using.resource(Files.list(inputDir))(
          _.iterator().asScala.filter(Files.isRegularFile(_)).toVector)
      else Vector.empty
    // a file that left the directory unadmitted starts over if it returns
    val listed = files.toSet
    seen.filterInPlace { case (p, _) => listed(p) }
    val candidates = files.flatMap { p =>
      admissionKey(p) match {
        case Some(key) if isStable(p) => Some((key, p))
        case _ => None
      }
    }
    candidates.sortBy(_._1).headOption.map {
      case (_, p) =>
        val dir = Files.createDirectory(stagingDir.resolve(UUID.randomUUID.toString))
        val dest = dir.resolve(p.getFileName)
        try Files.move(p, dest)
        catch { case e: java.io.IOException => Files.delete(dir); throw e }
        seen.remove(p)
        dest
    }
  }

  /** Drain: poll until no more admissions (admission order = oldest
    * first, one move per poll, so staged mtimes preserve the order). */
  def pollAll(): Seq[Path] =
    Iterator.continually(poll()).takeWhile(_.isDefined).flatten.toSeq
}

object StabilityGate {
  /** The LPI/SENS/MIST filename patterns (conv/main_lpi.py:15-16 et al). */
  private val TimestampRe: Regex = graft.functions.ReferenceFunctions.FilenameTsPattern.r
  private val TimestampFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH-mm-ss")

  /** P7 — the `YYYY-MM-DD_HH-MM-SS` timestamp embedded in a file name
    * (two regex groups joined by a space, utility.py:8-27); None when
    * the name carries none or it does not parse. */
  def filenameTs(name: String): Option[LocalDateTime] =
    TimestampRe.findFirstMatchIn(name).flatMap { m =>
      scala.util.Try(LocalDateTime.parse(s"${m.group(1)} ${m.group(2)}", TimestampFmt)).toOption
    }

  /** T3 — the admission order, also [[StagingSource]]'s: P7 filename
    * timestamp, else mtime (utility.py:20-27), then name, then path. */
  def admissionKey(p: Path): Option[(Long, String, String)] =
    filenameTs(p.getFileName.toString)
      .map(_.toInstant(ZoneOffset.UTC).toEpochMilli)
      .orElse(scala.util.Try(Files.getLastModifiedTime(p).toMillis).toOption)
      .map(ts => (ts, p.getFileName.toString, p.toString))

  private[streaming] final case class StatInfo(
      size: Long, mtime: Long, var stableCount: Int)
}
