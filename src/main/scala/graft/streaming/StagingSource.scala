package graft.streaming

import java.nio.file.{Files, NoSuchFileException, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** S5 — the micro-batch source [[FilePipeline]] reads staging through
  * (`path`; `pathGlobFilter` matches file names). It lists the staging
  * root and the gate's `staging/<uuid>/` admission directories with
  * java.nio, skips hidden names as Spark's file listing does, and hands
  * the backlog out in the gate's T3 order, one file per batch (T9). An
  * end offset names the batch's files and the earlier ones still staged
  * (a failed dead-letter move), which are never offered again. A batch
  * has no rows: the pipeline reads its files from the offset log. */
final class StagingSource extends TableProvider with Table with SupportsRead {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = this
  override def name(): String = "staging"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): StructType = schema()
    override def toMicroBatchStream(checkpoint: String): MicroBatchStream = new StagingStream(
      Paths.get(options.get("path")).toAbsolutePath.normalize,
      options.getOrDefault("pathGlobFilter", "*"), checkpoint)
  }
}

private final class StagingStream(root: Path, glob: String, checkpoint: String)
    extends MicroBatchStream with SupportsAdmissionControl {
  import StagingSource.{Handout, parseOffset}

  private val names = root.getFileSystem.getPathMatcher(s"glob:$glob")

  private def staged(): Seq[Path] = {
    def list(dir: Path): Seq[Path] =
      try Using.resource(Files.list(dir))(_.iterator().asScala.toVector)
      catch { case _: NoSuchFileException => Vector.empty } // its file left meanwhile
    list(root).flatMap(p => if (Files.isDirectory(p)) list(p) else Seq(p)).filter { p =>
      !p.getFileName.toString.matches("[._].*") && names.matches(p.getFileName) &&
        Files.isRegularFile(p)
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val last = start.asInstanceOf[Handout]
    val handed = (last.files ++ last.handed).filter(f => Files.exists(Paths.get(f)))
    val max = limit match { case m: ReadMaxFiles => m.maxFiles; case _ => Int.MaxValue }
    val next = staged().filterNot(p => handed.contains(p.toString))
      .flatMap(p => StabilityGate.admissionKey(p).map(_ -> p))
      .sortBy(_._1).take(max).map(_._2.toString)
    if (next.isEmpty) null else Handout(next, handed) // null: no new file, no batch
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(StagingSource.FilesPerTrigger)
  override def latestOffset(): Offset = throw new UnsupportedOperationException("latestOffset")
  override def initialOffset(): Offset = Handout(Nil, Nil)
  override def deserializeOffset(json: String): Offset = parseOffset(json, checkpoint)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    p => throw new IllegalStateException(s"staging source: a batch has no rows ($p)")
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"StagingSource[$root]"
}

object StagingSource {
  val FilesPerTrigger = 1 // T9: the reference's single worker (Pipeline.py:60-66)

  private val mapper = new ObjectMapper()

  private[streaming] final case class Handout(files: Seq[String], handed: Seq[String])
      extends Offset {
    override def json(): String = s"""{"files":${mapper.writeValueAsString(files.asJava)},""" +
      s""""handed":${mapper.writeValueAsString(handed.asJava)}}"""
  }

  /** Fails, naming `checkpoint`, on an offset this source did not write. */
  private[streaming] def parseOffset(json: String, checkpoint: String): Handout = {
    def strings(node: JsonNode): Option[Seq[String]] =
      Option(node).filter(n => n.isArray && n.asScala.forall(_.isTextual))
        .map(_.asScala.map(_.asText).toSeq)
    scala.util.Try(mapper.readTree(json)).toOption
      .flatMap(n => strings(n.get("files")).zip(strings(n.get("handed"))))
      .map { case (files, handed) => Handout(files, handed) }
      .getOrElse(throw new IllegalStateException(s"checkpoint $checkpoint holds the " +
        s"offset $json, which the staging source did not write; start on a new checkpoint"))
  }

  /** The files of batch `batchId`, from the end offset Spark logged before
    * the batch ran, so a replayed batch reads the same files. */
  def loggedFiles(checkpointDir: Path, batchId: Long): Seq[String] = {
    val entry = checkpointDir.resolve("offsets").resolve(batchId.toString)
    Files.readAllLines(entry).asScala.toSeq match {
      // version, batch metadata, then one line per source: this one
      case Seq("v1", _, offset) => parseOffset(offset, checkpointDir.toString).files
      case _ => throw new IllegalStateException(s"$entry is not a one-source offset log entry")
    }
  }
}
