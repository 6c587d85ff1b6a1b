package graft

import org.apache.spark.sql.SparkSession

/** Named-subset bench for scaling/regression probes — times SELECTED
  * `SparkEntry.queries` entries under the SAME full-evaluation sink as
  * the full `Bench` (`queryExecution.toRdd.count()`), so a probe
  * number is directly comparable to a full-bench number from the same
  * round. Exists because decade probes (10×/100× corpora) and knob
  * A/B runs (e.g. `SPARK_GRAFT_INITIAL_PARTITIONS`) need per-query
  * walls without paying the whole 172-query suite per configuration.
  *
  * Usage: runMain graft.ProbeBench <name> [<name> ...]
  *   SPARK_GRAFT_SF_DIR     corpus dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_REPEAT     timed repeats per query (default 1; the
  *                          min wall is reported as `best`)
  *   SPARK_GRAFT_NO_WARM    skip the untimed shared-corpus warm
  *   SPARK_GRAFT_EXTRA_CONF semicolon-separated `key=value` Spark
  *                          confs applied on top of the engine
  *                          defaults (knob A/B runs)
  *
  * Emits one JSON line per run, same field conventions as Bench
  * (loadavg before/after, per-query wall + process-cpu seconds).
  */
object ProbeBench {
  private def loadAvg: Double = {
    val l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    math.round(l * 100.0) / 100.0
  }
  private def processCpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeBench <queryName> [<queryName> ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"malformed SPARK_GRAFT_EXTRA_CONF entry (need key=value): $kv")
        (kv.take(i), kv.drop(i + 1))
      }
    val load0 = loadAvg
    val spark: SparkSession = {
      val b = graft.core.Sessions.builder("graft-probe")
      extraConf.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    if (!sys.env.contains("SPARK_GRAFT_NO_WARM"))
      try graft.queries.LlmQueries.warmShared(spark, sfDir)
      catch { case _: Throwable => () }
    val results = args.toSeq.map { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to repeat).map { _ =>
        val c0 = processCpuNanos
        val t0 = System.nanoTime()
        val err = try {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.count()
          None
        } catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 < 0) -1.0 else (processCpuNanos - c0) / 1e9
        (wall, cpu, err)
      }
      val err = runs.flatMap(_._3).headOption
      val best = runs.map(_._1).min
      val cpuBest = runs.map(_._2).min
      (name, runs.head._1, best, cpuBest, err)
    }
    def f(d: Double) = math.round(d * 1000.0) / 1000.0
    val qs = results.map {
      case (k, first, best, _, None) =>
        s""""$k":{"first":${f(first)},"best":${f(best)}}"""
      case (k, _, _, _, Some(e)) => s""""$k":"err:$e""""
    }.mkString("{", ",", "}")
    val cpus = results.map { case (k, _, _, c, _) => s""""$k":${f(c)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"probe","sf":"$sfDir","repeat":$repeat,"initial_partitions":"${graft.core.Sessions.initialPartitions}","loadavg_start":$load0,"loadavg_end":$loadAvg,"cpu_s":$cpus,"queries":$qs}""")
    spark.stop()
  }
}
