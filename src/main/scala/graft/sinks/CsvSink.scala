package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.Row

/** K1 — single-file CSV write with the reference's exact naming
  * (`<stem>_stats.csv`, header row, no index column —
  * DataConverterUDBF.py:267-278).
  *
  * The rows are ones the caller already collected on the driver (a
  * per-file stats table, one row per channel), so no Spark job runs
  * here. Header and rows are written to a dot-prefixed temp file in the
  * target's directory, which is then moved onto the target with
  * `ATOMIC_MOVE` + `REPLACE_EXISTING`: a reader sees the old file or the
  * new one, never a partial write. The temp file is removed if anything
  * fails.
  *
  * Cells render with `toString` (for `Double`, what Spark's CSV writer
  * emits); null is an empty field; every line ends with `\n`. A field
  * containing `,`, `"`, CR or LF is quoted RFC 4180 style, embedded
  * quotes doubled — as the reference's pandas `to_csv` does. */
object CsvSink {

  def write(target: Path, header: Seq[String], rows: Seq[Row]): Unit = {
    val text = new StringBuilder
    def line(cells: Seq[Any]): Unit = {
      cells.iterator.map(field).addString(text, ",")
      text.append('\n')
    }
    line(header)
    rows.foreach(r => line(r.toSeq))

    val dir = target.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      Files.writeString(tmp, text, StandardCharsets.UTF_8,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      Files.move(tmp, target,
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp) // no-op once moved
  }

  private def field(v: Any): String =
    if (v == null) ""
    else {
      val s = v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\r' || c == '\n'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
}
