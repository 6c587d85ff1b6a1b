package graft.sinks

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** K5/D3 — the uploader flow (uploader/main.py:35-135) engine-side:
  * pick the newest *settled* finished file (size unchanged across a
  * settle re-check — the uploader's lighter stability variant of T2),
  * skip when the remote already holds the same name at the same size,
  * and divert to a `.dup_<mtime>` name when the remote holds the same
  * name at a DIFFERENT size (never overwrite). The remote itself is a
  * trait — the reference uses SFTP with host-key pinning; tests and
  * local runs use a directory-backed store. One upload per sweep,
  * newest-by-mtime (A3). */
object UploadSink {

  /** Remote side of the transfer. Implementations must expose size
    * probes (the dedup key) and an atomic-ish put. */
  trait RemoteStore {
    def sizeOf(name: String): Option[Long]
    def put(name: String, bytes: Array[Byte]): Unit
  }

  /** Directory-backed store for tests/local runs (an SFTP client with
    * fingerprint pinning implements the same two calls in production). */
  final class LocalDirStore(dir: Path) extends RemoteStore {
    Files.createDirectories(dir)
    override def sizeOf(name: String): Option[Long] = {
      val p = dir.resolve(name)
      if (Files.exists(p)) Some(Files.size(p)) else None
    }
    override def put(name: String, bytes: Array[Byte]): Unit =
      Files.write(dir.resolve(name), bytes)
  }

  sealed trait Outcome
  case object NothingToUpload extends Outcome
  case object NotSettled extends Outcome
  final case class Uploaded(name: String) extends Outcome
  final case class SkippedSameSize(name: String) extends Outcome
  final case class RenamedDuplicate(uploadedAs: String) extends Outcome
}

final class UploadSink(
    finishedDir: Path,
    remote: UploadSink.RemoteStore,
    settle: () => Unit = () => Thread.sleep(1000)) { // settle_sec=1.0
  import UploadSink._

  private var lastUploadedName: Option[String] = None // local guard (D3)

  /** One sweep of the 30 s poll loop (uploader/main.py:101,135). */
  def sweep(): Outcome = {
    val files = if (Files.isDirectory(finishedDir))
      Using.resource(Files.list(finishedDir))(
        _.iterator().asScala.filter(Files.isRegularFile(_)).toVector)
    else Vector.empty
    // A3 — newest by mtime
    files.maxByOption(p => Files.getLastModifiedTime(p).toMillis) match {
      case None => NothingToUpload
      case Some(p) =>
        val name = p.getFileName.toString
        if (lastUploadedName.contains(name)) return NothingToUpload
        // stability: size unchanged across the settle window
        val before = Files.size(p)
        settle()
        if (!Files.exists(p) || Files.size(p) != before) return NotSettled
        val bytes = Files.readAllBytes(p)
        remote.sizeOf(name) match {
          case Some(sz) if sz == bytes.length => // D3 same-size skip
            lastUploadedName = Some(name)
            SkippedSameSize(name)
          case Some(_) => // name collision, different content size
            val dup = s"$name.dup_${Files.getLastModifiedTime(p).toMillis / 1000}"
            remote.put(dup, bytes)
            lastUploadedName = Some(name)
            RenamedDuplicate(dup)
          case None =>
            remote.put(name, bytes)
            lastUploadedName = Some(name)
            Uploaded(name)
        }
    }
  }
}
