package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dump `explain("formatted")` of NAMED queries into
  * `<outDir>/<name>_<suffix>.txt` — one JVM for a whole before/after
  * batch (PrintPlan is one JVM per query). Not part of the driver
  * contract. Usage:
  *   runMain graft.tools.DumpPlans <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local(4)
    new java.io.File(outDir).mkdirs()
    names.foreach { q =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), plan)
        println(s"[plans] wrote $outDir/${q}_$suffix.txt")
      } catch {
        case e: Throwable => println(s"[plans] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
