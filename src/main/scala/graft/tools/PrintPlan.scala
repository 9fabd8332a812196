package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Print one query's explain output (default "formatted"; pass
  * "extended"/"simple"/"codegen" as the 3rd arg) — ad-hoc plan
  * inspection under the PlanBudgetSpec environment. Not part of the
  * driver contract. Usage: runMain graft.tools.PrintPlan <name> [sfDir] [mode].
  */
object PrintPlan {
  def main(args: Array[String]): Unit = {
    val q = args.headOption.getOrElse("q01_filter_isin")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val mode = args.lift(2).getOrElse("formatted")
    val spark = graft.Sessions.local(4)
    val df = graft.SparkEntry.queries(q)(spark, dir)
    println(s"===== $q ($mode) =====")
    println(df.queryExecution.explainString(ExplainMode.fromString(mode)))
    spark.stop()
  }
}
