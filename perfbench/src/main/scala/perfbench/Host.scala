package perfbench

import java.nio.file.{Files, Paths}

/** Host-noise readings straight from /proc. Read-only: nothing here
  * changes kernel settings. Every reader returns a neutral value where
  * the file is missing, so the benchmark still runs off Linux. */
object Host {

  /** Clock ticks per second of /proc/stat (USER_HZ, 100 on Linux). */
  private val Hz = 100.0

  private def read(path: String): Option[String] =
    try Some(Files.readString(Paths.get(path))) catch { case _: Throwable => None }

  /** (busy seconds, steal seconds) of the whole machine. Busy is user,
    * nice, system, irq and softirq time; idle, iowait and steal are not. */
  def machineCpu(): (Double, Double) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      def at(i: Int): Long = if (i < f.length) f(i) else 0L
      ((at(0) + at(1) + at(2) + at(5) + at(6)) / Hz, at(7) / Hz)
    }.getOrElse((0.0, 0.0))

  /** One-minute load average. */
  def loadAvg(): Double =
    read("/proc/loadavg").flatMap(_.trim.split("\\s+").headOption)
      .flatMap(_.toDoubleOption).getOrElse(0.0)

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  private val calibrationInput = {
    val r = new java.util.Random(1L)
    Array.fill(250000)(r.nextInt())
  }

  /** Milliseconds a fixed single-threaded job takes now: sorting a
    * seeded array of 250k ints. */
  def calibrationMs(): Double = {
    val a = calibrationInput.clone()
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e6
  }

  /** CPU seconds this JVM's JIT compiler threads have used (named "C1
    * CompilerThread" and "C2 CompilerThread", which /proc cuts to 15
    * characters). */
  def jitCpuS(): Double =
    Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty[java.io.File])
      .iterator.flatMap { t =>
        val comm = read(s"${t.getPath}/comm").map(_.trim).getOrElse("")
        if (!comm.matches("C[12] CompilerThre.*")) None
        else read(s"${t.getPath}/stat").map { s =>
          // utime and stime, the 14th and 15th fields of stat
          val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) / Hz
        }
      }.sum

  /** Noise over one measured window: max load average (sampled by the
    * caller), steal seconds and CPU seconds burnt by other processes. */
  final class Window {
    private val (busy0, steal0) = machineCpu()
    private val cpu0 = processCpuS()
    private var maxLoad = loadAvg()
    def sample(): Unit = maxLoad = math.max(maxLoad, loadAvg())
    def close(): Map[String, Any] = {
      sample()
      val (busy1, steal1) = machineCpu()
      val own = processCpuS() - cpu0
      Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
        "loadavg_max" -> maxLoad,
        "steal_s" -> (steal1 - steal0),
        "external_cpu_s" -> math.max(0.0, (busy1 - busy0) - own))
    }
  }
}
