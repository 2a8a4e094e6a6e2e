package graft

import java.nio.file.{Files, Paths}

/** Dev tool (round 14): dump `.explain("formatted")` for named queries to
  * files, for the plans/r14/<query>_{before,after}.txt evidence the
  * optimization round commits. Usage:
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,..."
  * Writes <outDir>/<query>_<suffix>.txt. Plans only — nothing is executed,
  * so AQE-final shapes are not captured here (the bench numbers carry those).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val spark = Graft.session("plan-dump")
    new java.io.File(outDir).mkdirs()
    val wanted = names.split(",").toSeq
    val all = SparkEntry.queries
    wanted.foreach { name =>
      all.get(name) match {
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
