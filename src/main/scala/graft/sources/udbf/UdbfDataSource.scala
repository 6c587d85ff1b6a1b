package graft.sources.udbf

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.util.{Map => JMap, Set => JSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** S1 — `spark.read.format("udbf")`: DataSource V2 reader for Gantner
  * UDBF `.dat` logger files (SURVEY.md §2.1 S1).
  *
  * Spark-first design notes:
  *   - schema comes from the file header once on the driver
  *     (channel names normalized `-`→`_` as the reference does on read,
  *     DataConverterUDBF.py:104; units kept as column METADATA);
  *   - column 0 is surfaced as a real `ts TIMESTAMP` (the vendor library
  *     emits OLE-day doubles, DataConverterUDBF.py:129-140 — we convert
  *     at decode time so Catalyst sees a native timestamp);
  *   - one input partition per file: UDBF files are bounded 10-minute
  *     measurement windows (~450 KB, DataConverterUDBF.py:51), so the
  *     100 TB axis is file COUNT — parallelism comes from many files,
  *     and a whole file per task preserves the chunk-concat stop rule;
  *   - [[SupportsPushDownRequiredColumns]] prunes decode work: an
  *     unprojected channel is never decoded (the reference decodes all
  *     channels always — we do better);
  *   - chunked monotonic admission (D5): frames are accepted chunk by
  *     chunk while the chunk's first timestamp advances, mirroring
  *     read_gins_dat (PyQStationConnectWin.py:390-413). Chunk size is
  *     the vendor default 100 000 frames (`chunkFrames` option for tests).
  */
class UdbfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "udbf"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = UdbfDataSource.resolveFiles(options)
    require(files.nonEmpty, "udbf: no .dat files found under the given path")
    UdbfDataSource.schemaOf(files.head)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new UdbfTable(schema, new CaseInsensitiveStringMap(properties))
}

object UdbfDataSource {
  val TimestampColumn = "ts"
  val DefaultChunkFrames = 100000

  /** Expand the `path`/`paths` options to concrete `.dat` files (glob +
    * one-level directory listing), driver-side. */
  def resolveFiles(options: CaseInsensitiveStringMap): Seq[String] = {
    val conf = sessionConf()
    val raw: Seq[String] = Option(options.get("paths")) match {
      case Some(json) => "\"((?:[^\"\\\\]|\\\\.)*)\"".r
        .findAllMatchIn(json).map(_.group(1)).toSeq
      case None => Option(options.get("path")).toSeq
    }
    raw.flatMap { p =>
      val hp = new HPath(p)
      val fs = hp.getFileSystem(conf)
      val matched: Seq[FileStatus] = Option(fs.globStatus(hp)) match {
        case Some(arr) if arr.nonEmpty => arr.toSeq
        case _ => Seq(fs.getFileStatus(hp)) // throws FileNotFound — correct
      }
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".dat"))
        else Seq(st)
      }
    }.map(_.getPath.toString).distinct.sorted
  }

  /** Schema = ts TIMESTAMP + one DOUBLE per channel, unit/sample-rate as
    * field metadata (SURVEY.md §1.1: StructType metadata carries what the
    * reference keeps in parallel lists). */
  def schemaOf(file: String): StructType = {
    val header = UdbfFormat.parseHeader(readBytes(file, sessionConf()))
    val tsMeta = new MetadataBuilder()
      .putDouble("sample_rate", header.sampleRate)
      .putString("vendor", header.vendor)
      .build()
    val tsField = StructField(TimestampColumn, TimestampType, nullable = false, tsMeta)
    val channelFields = header.variables.map { v =>
      val meta = new MetadataBuilder()
        .putString("unit", v.unit)
        .putDouble("sample_rate", header.sampleRate)
        .build()
      StructField(normalizeName(v.name), DoubleType, nullable = false, meta)
    }
    StructType(tsField +: channelFields)
  }

  /** Micros of the file's first admitted frame, decoded on the driver
    * with no Spark job; None for a file with no frames. Frames are
    * monotone, so this is the file's `min(ts)`. */
  def firstFrameMicros(file: String): Option[Long] = {
    val cursor = new UdbfCursor(file, Array.empty, DefaultChunkFrames, sessionConf())
    if (cursor.advance()) Some(cursor.currentMicros) else None
  }

  /** The session's Hadoop configuration, for every file access. */
  private[udbf] def sessionConf(): Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  /** P5 — channel-name normalization, as applied by the reference
    * immediately after header read (DataConverterUDBF.py:104). */
  def normalizeName(name: String): String = name.replace('-', '_')

  private[udbf] def readBytes(file: String, conf: Configuration): Array[Byte] = {
    val hp = new HPath(file)
    val fs = hp.getFileSystem(conf)
    val len = fs.getFileStatus(hp).getLen
    require(len <= Int.MaxValue, s"udbf file too large: $len bytes")
    val in = fs.open(hp)
    try {
      val out = new Array[Byte](len.toInt)
      in.readFully(0, out)
      out
    } finally in.close()
  }
}

final class UdbfTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "udbf:" + options.getOrDefault("path", "")
  override def schema(): StructType = tableSchema
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // merge table-creation options with read options (read options win)
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new UdbfScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }
}

final class UdbfScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new UdbfScan(options, required,
    options.getInt("chunkFrames", UdbfDataSource.DefaultChunkFrames))
}

final case class UdbfInputPartition(file: String) extends InputPartition

final class UdbfScan(options: CaseInsensitiveStringMap, required: StructType,
    chunkFrames: Int)
    extends Scan with Batch {
  private lazy val files: Seq[String] = UdbfDataSource.resolveFiles(options)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    files.map(UdbfInputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new UdbfReaderFactory(required, chunkFrames, SparkSession.active.sparkContext
      .broadcast(new SerializableConfiguration(UdbfDataSource.sessionConf())))
  override def description(): String =
    s"udbf [columns: ${required.fieldNames.mkString(",")}]"
}

final class UdbfReaderFactory(required: StructType, chunkFrames: Int,
    conf: org.apache.spark.broadcast.Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  // decoded vectors feed ColumnarToRow / whole-stage codegen directly,
  // so Spark never asks this factory for the row reader
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new UdbfPartitionReader(partition.asInstanceOf[UdbfInputPartition].file,
      required.fieldNames, chunkFrames, conf.value.value)
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new UdbfColumnarReader(partition.asInstanceOf[UdbfInputPartition].file,
      required, chunkFrames, conf.value.value)
}

/** Shared decode cursor over one `.dat` file: header/offset bookkeeping,
  * column projection, and the frame-advance loop with the D5
  * chunk-concat gate. Only the projected channels are ever decoded;
  * other fields are skipped by byte offset. */
private[udbf] final class UdbfCursor(
    file: String, requiredCols: Array[String], chunkFrames: Int, conf: Configuration) {
  import UdbfFormat._

  private val bytes = UdbfDataSource.readBytes(file, conf)
  val header: Header = parseHeader(bytes)
  private val buf = ByteBuffer.wrap(bytes).order(
    if (header.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)

  private val timeFieldBytes =
    if (header.actTimeDataType != 0) typeSize(header.actTimeDataType) else 0
  // byte offset of each channel inside a record
  private val channelOffsets: Array[Int] = {
    val sizes = header.variables.map(v => typeSize(v.dataType))
    sizes.scanLeft(timeFieldBytes)(_ + _).init.toArray
  }
  private val channelNames = header.variables.map(v => UdbfDataSource.normalizeName(v.name))

  /** For each required column: the ts marker (-1) or the channel index. */
  val projection: Array[Int] = requiredCols.map {
    case UdbfDataSource.TimestampColumn => -1
    case name =>
      val idx = channelNames.indexOf(name)
      require(idx >= 0, s"udbf: column '$name' not present in $file " +
        s"(channels: ${channelNames.mkString(", ")})")
      idx
  }

  private val availableFrames: Long = {
    val dataBytes = bytes.length.toLong - header.dataOffset
    math.max(0L, dataBytes / header.recordBytes)
  }

  private var frame: Long = -1
  private var lastMicros: Long = Long.MinValue
  private var done = false

  /** Byte offset of the current frame's record (after [[advance]]). */
  var base: Int = _

  /** Micros of the frame the cursor currently points at (after a
    * successful [[advance]]). */
  var currentMicros: Long = _

  private def microsAt(i: Long, b: Int): Long =
    if (header.actTimeDataType != 0)
      header.recordMicros(i, readTicksAt(buf, header.actTimeDataType, b))
    else header.recordMicros(i, 0L)

  /** Move to the next admissible frame; false at end of data or when the
    * D5 chunk-concat gate closes: a chunk whose first timestamp does not
    * advance past everything read so far ends the file
    * (PyQStationConnectWin.py:400-411). TERMINAL once false — the
    * batched (columnar) caller keeps calling after a mid-batch gate
    * close, which must not resume past the gate. */
  def advance(): Boolean = {
    if (done) return false
    frame += 1
    if (frame >= availableFrames) { done = true; return false }
    base = header.dataOffset + (frame * header.recordBytes).toInt
    val micros = microsAt(frame, base)
    if (frame > 0 && frame % chunkFrames == 0 && micros <= lastMicros) {
      done = true; return false
    }
    lastMicros = micros
    currentMicros = micros
    true
  }

  /** Decode channel `p` of the current frame (absolute read — the hot
    * loop never touches the buffer's position). */
  def channelValue(p: Int): Double =
    readValueAt(buf, header.variables(p).dataType, base + channelOffsets(p))

  /** Decode channel `p` at an explicit record offset — the columnar
    * reader's column-major fill decodes one column across many recorded
    * frames (sequential vector writes, strided buffer reads). */
  def channelValueAt(p: Int, recordBase: Int): Double =
    readValueAt(buf, header.variables(p).dataType, recordBase + channelOffsets(p))

  /** Raw layout facts for type-specialized fills. */
  def channelDataType(p: Int): Int = header.variables(p).dataType
  def channelOffset(p: Int): Int = channelOffsets(p)
  def rawBuffer: ByteBuffer = buf
}

/** Row-path reader: one `GenericInternalRow` per frame. The parity
  * reference the vectorized reader's spec decodes against. */
final class UdbfPartitionReader(
    file: String, requiredCols: Array[String], chunkFrames: Int, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val cursor = new UdbfCursor(file, requiredCols, chunkFrames, conf)
  private val projection = cursor.projection
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!cursor.advance()) return false
    val values = new Array[Any](projection.length)
    var k = 0
    while (k < projection.length) {
      val p = projection(k)
      values(k) = if (p == -1) cursor.currentMicros else cursor.channelValue(p)
      k += 1
    }
    current = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Vectorized reader: decodes straight into on-heap column vectors, one
  * [[org.apache.spark.sql.vectorized.ColumnarBatch]] per `batchRows`
  * frames (SURVEY §4 "stream chunks into ColumnarBatch"). Saves the
  * per-frame `GenericInternalRow` allocation and lets the downstream
  * stage consume vectors via the standard ColumnarToRow/codegen bridge —
  * the win grows with channel count (wide files decode many columns per
  * row object saved). */
final class UdbfColumnarReader(
    file: String, required: StructType, chunkFrames: Int, conf: Configuration,
    batchRows: Int = 4096)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val cursor = new UdbfCursor(file, required.fieldNames, chunkFrames, conf)
  private val projection = cursor.projection
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchRows, required)
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  // per-batch frame bookkeeping for the column-major fill
  private val bases = new Array[Int](batchRows)
  private val micros = new Array[Long](batchRows)

  override def next(): Boolean = {
    // phase 1: admit up to batchRows frames (D5 gate lives in advance())
    var n = 0
    while (n < batchRows && cursor.advance()) {
      bases(n) = cursor.base
      micros(n) = cursor.currentMicros
      n += 1
    }
    if (n == 0) { batch.setNumRows(0); return false }
    // phase 2: column-major fill — sequential writes per vector, and a
    // monomorphic inner loop for the dominant float64 channel type (the
    // generic per-value type dispatch measured ~20% slower on 48-channel
    // files)
    var k = 0
    while (k < projection.length) {
      val v = vectors(k)
      v.reset()
      val p = projection(k)
      var i = 0
      if (p == -1) {
        while (i < n) { v.putLong(i, micros(i)); i += 1 }
      } else if (cursor.channelDataType(p) == 12) {
        val buf = cursor.rawBuffer
        val off = cursor.channelOffset(p)
        while (i < n) { v.putDouble(i, buf.getDouble(bases(i) + off)); i += 1 }
      } else {
        while (i < n) { v.putDouble(i, cursor.channelValueAt(p, bases(i))); i += 1 }
      }
      k += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}
