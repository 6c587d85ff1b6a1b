package graft.sinks

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** K6 — atomic, idempotent JSON document store (restapi/app_fs.py:56-69,
  * 123-127): write to a temp file in the same directory then rename into
  * place (os.replace semantics), skip entirely if the content-derived id
  * already exists, and maintain a `latest.json` pointer. `latest` falls
  * back to the newest `event_*.json` by mtime when the pointer is
  * missing (A3 — app_fs.py:129-141). */
final class JsonDocStore(dir: Path) {
  Files.createDirectories(dir)

  private def eventPath(id: String): Path = dir.resolve(s"event_$id.json")
  private val latestPath: Path = dir.resolve("latest.json")

  private def atomicWrite(target: Path, content: String): Unit = {
    val tmp = Files.createTempFile(dir, ".tmp_", ".json")
    Files.writeString(tmp, content)
    Files.move(tmp, target,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Store a document under its id. Returns false (and writes nothing)
    * when the id already exists — D4 idempotency. */
  def store(id: String, json: String): Boolean = {
    val target = eventPath(id)
    if (Files.exists(target)) false
    else {
      atomicWrite(target, json)
      atomicWrite(latestPath, json)
      true
    }
  }

  def get(id: String): Option[String] = {
    val p = eventPath(id)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }

  /** latest.json, else newest event_*.json by mtime, else None. */
  def latest(): Option[String] =
    if (Files.exists(latestPath)) Some(Files.readString(latestPath))
    else Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(p => p.getFileName.toString.matches("event_.*\\.json"))
      .maxByOption(p => Files.getLastModifiedTime(p).toMillis))
      .map(Files.readString)

  def ids(): Seq[String] =
    Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("event_") && s.endsWith(".json") =>
        s.stripPrefix("event_").stripSuffix(".json") }
      .toSeq.sorted)
}
