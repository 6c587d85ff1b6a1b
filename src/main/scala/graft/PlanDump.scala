package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: run named declared queries and dump each one's
  * `explain("formatted")` to `<outDir>/<name>.txt` — the plan evidence
  * behind optimization-round claims (plans/rNN/<query>_{before,after}.txt).
  * Each query runs once first, so the file holds the final AQE plan that
  * ran (and the initial plan after it), re-planned on runtime sizes. Not
  * part of the engine's runtime surface; shares the one
  * [[graft.core.Sessions]] config so the dumped plan is the plan the
  * bench runs.
  *
  * usage: runMain graft.PlanDump <sfDir> <outDir> <q1,q2,...|all>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "all") Some(args(2).split(",").toSet)
      else None
    val spark = graft.core.Sessions.local("graft-plandump")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val qe = fn(spark, sfDir).queryExecution
          qe.toRdd.count()
          val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"$name.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
