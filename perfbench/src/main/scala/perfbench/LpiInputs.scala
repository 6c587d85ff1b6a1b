package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** Seeded LPI logger files for the `lpi_ingest` workload.
  *
  * Two loggers, as in the reference deployment: a 100 Hz logger writing
  * 10-minute files of 6000 frames x 16 float32 channels (~432 KB) and a
  * 1 Hz logger writing 600 frames x 9 float32 channels (~27 KB). Both sit
  * inside the engine's +-10 % reference size bands (447.2 KB / 27.2 KB).
  *
  * Files are written by this benchmark's own UDBF v1.07 encoder, not the
  * engine's, so a change to the engine's codec cannot change the inputs.
  * Every value is a multiple of 1/8 with a small magnitude: it is exact
  * in float32 and every partial sum of a file is exact in double, so the
  * expected mean is one correctly rounded division whatever order the
  * engine sums in.
  *
  * Kinds: `Aligned` files carry a 10-minute-boundary timestamp and are
  * analysed whole; `Cut` files carry an off-boundary timestamp, so the
  * engine drops their first 10 seconds (their warm-up frames hold values
  * far outside the rest, so a missing trim shows in every statistic);
  * `Corrupt` files declare an unsupported channel data type and must be
  * dead-lettered.
  */
object LpiInputs {

  sealed trait Kind
  case object Aligned extends Kind
  case object Cut extends Kind
  case object Corrupt extends Kind

  final case class Logger(rate: Int, frames: Int, channels: Int) {
    val tag: String = s"${rate}hz"
    def channelName(j: Int): String = f"lpi${rate}%d_ch$j%02d"
  }
  val Hz100: Logger = Logger(100, 6000, 16)
  val Hz1: Logger = Logger(1, 600, 9)
  val loggers: Seq[Logger] = Seq(Hz100, Hz1)

  /** Per-channel expected statistics, already rounded as the engine
    * rounds them (3 decimals, HALF_UP on the double's decimal form). */
  final case class Stat(sensor: String, mean: Double, min: Double, max: Double)

  /** One generated file: its content, its kind, and what the engine
    * must publish for it (empty for corrupt files). */
  final case class Spec(logger: Logger, kind: Kind, bytes: Array[Byte],
      expected: Seq[Stat]) {
    def frames: Int = logger.frames
  }

  /** The mix in every block of 10 files: mostly aligned, one cut file
    * per logger, one corrupt file. Fixed per block, so each seed runs the
    * same proportions and only the order and values vary. */
  val BlockMix: Seq[(Logger, Kind, Int)] = Seq(
    (Hz100, Aligned, 4), (Hz100, Cut, 1),
    (Hz1, Aligned, 3), (Hz1, Cut, 1), (Hz1, Corrupt, 1))
  val BlockSize: Int = BlockMix.map(_._3).sum

  /** The first `n` file specs of the seeded stream (n rounded up to whole
    * blocks). Same seed, same bytes. */
  def specs(seed: Long, n: Int): Vector[Spec] = {
    val rnd = new scala.util.Random(seed)
    val blocks = (n + BlockSize - 1) / BlockSize
    (0 until blocks).iterator.flatMap { _ =>
      val kinds = BlockMix.flatMap { case (l, k, c) => Seq.fill(c)((l, k)) }
      rnd.shuffle(kinds).map { case (l, k) => make(l, k, rnd.nextLong()) }
    }.toVector
  }

  /** Warm-up frames of a cut file: its first 10 seconds. */
  def warmupFrames(l: Logger): Int = l.rate * 10

  /** Frame `i`, channel `j` of a file, as a multiple of 1/8. */
  private def valueGrid(l: Logger, kind: Kind, fileSeed: Long)
      : (Int, Int) => Double = {
    val r = new scala.util.Random(fileSeed)
    val base = Array.fill(l.channels)(r.nextInt(4001) - 2000) // level
    val amp = Array.fill(l.channels)(1 + r.nextInt(400)) // noise width
    val noiseSeed = r.nextLong()
    (i, j) => {
      if (kind == Cut && i < warmupFrames(l)) -9000.0 + j
      else {
        // cheap stateless hash noise: deterministic per (file, i, j)
        var h = noiseSeed ^ (i.toLong * 0x9E3779B97F4A7C15L) ^ (j.toLong << 40)
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        val n = java.lang.Math.floorMod(h, (2 * amp(j) + 1).toLong).toInt - amp(j)
        (base(j) * 8 + n) / 8.0
      }
    }
  }

  private[perfbench] def make(l: Logger, kind: Kind, fileSeed: Long): Spec = {
    val v = valueGrid(l, kind, fileSeed)
    val bytes = encode(l, v, corrupt = kind == Corrupt)
    val keepFrom = if (kind == Cut) warmupFrames(l) else 0
    val expected =
      if (kind == Corrupt) Seq.empty
      else expectedStats(l, v, keepFrom)
    Spec(l, kind, bytes, expected)
  }

  /** The engine's rounding: `round(x, 3)` on a double. */
  def round3(d: Double): Double =
    BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Expected per-channel round(mean/min/max, 3) over frames
    * `keepFrom until frames`, sorted by sensor name. */
  def expectedStats(l: Logger, v: (Int, Int) => Double, keepFrom: Int): Seq[Stat] =
    (0 until l.channels).map { j =>
      var sum = 0.0; var lo = Double.MaxValue; var hi = -Double.MaxValue
      var i = keepFrom
      while (i < l.frames) {
        val x = v(i, j).toFloat.toDouble
        sum += x; if (x < lo) lo = x; if (x > hi) hi = x
        i += 1
      }
      Stat(l.channelName(j), round3(sum / (l.frames - keepFrom)), round3(lo), round3(hi))
    }.sortBy(_.sensor)

  /** UDBF v1.07, little endian, u64 millisecond time field, float32
    * channels. A corrupt file declares data type 99 for its last
    * channel, which no UDBF reader supports. The start time is a fixed
    * epoch: the stream keys files by name, and the engine's warm-up trim
    * works on relative time. */
  def encode(l: Logger, v: (Int, Int) => Double, corrupt: Boolean): Array[Byte] = {
    val vendor = "perfbench".getBytes(StandardCharsets.UTF_8) :+ 0.toByte
    val names = (0 until l.channels).map(j =>
      l.channelName(j).getBytes(StandardCharsets.UTF_8) :+ 0.toByte)
    val unit = "V".getBytes(StandardCharsets.ISO_8859_1) :+ 0.toByte
    val headerLen = 1 + 2 + 2 + vendor.length + 1 + 2 + 8 + 2 + 8 + 8 + 8 + 2 +
      names.map(n => 2 + n.length + 2 + 2 + 2 + 2 + 2 + unit.length + 2).sum
    val dataOffset = ((headerLen + 8 + 15) / 16) * 16
    val recordBytes = 8 + 4 * l.channels
    val buf = ByteBuffer.allocate(dataOffset + l.frames * recordBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    val startOle = 1710504000000000L / 86400e6 + 25569.0 // 2024-03-15 12:00 UTC
    buf.put(0.toByte).putShort(107.toShort)
    buf.putShort(vendor.length.toShort).put(vendor)
    buf.put(0.toByte).putShort(0.toShort) // no checksum, no module data
    buf.putDouble(1.0).putShort(14.toShort).putDouble(0.001) // u64 ms ticks
    buf.putDouble(startOle).putDouble(l.rate.toDouble)
    buf.putShort(l.channels.toShort)
    names.zipWithIndex.foreach { case (n, j) =>
      val dataType = if (corrupt && j == l.channels - 1) 99 else 8
      buf.putShort(n.length.toShort).put(n)
      buf.putShort(1.toShort).putShort(dataType.toShort).putShort(4.toShort)
      buf.putShort(3.toShort).putShort(unit.length.toShort).put(unit)
      buf.putShort(0.toShort)
    }
    while (buf.position() < dataOffset) buf.put(0x20.toByte)
    var i = 0
    while (i < l.frames) {
      buf.putLong(i.toLong * 1000L / l.rate)
      var j = 0
      while (j < l.channels) { buf.putFloat(v(i, j).toFloat); j += 1 }
      i += 1
    }
    buf.array()
  }

  /** LPI file name for the `k`-th file of a run: a distinct 10-minute
    * window per file, off the boundary for cut files. */
  def fileName(spec: Spec, k: Long): String = {
    val windowStart = java.time.LocalDateTime.of(2024, 3, 15, 0, 0)
      .plusMinutes(10L * k)
    val ts = if (spec.kind == Cut) windowStart.plusSeconds(207) else windowStart
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss")
    s"m2412511_${spec.logger.tag}_${ts.format(fmt)}.dat"
  }
}
