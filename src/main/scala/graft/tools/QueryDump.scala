package graft.tools

import graft.SparkEntry

/** Print a query's full result (ad-hoc oracle cross-checks; not part of
  * the driver contract). Usage: runMain graft.tools.QueryDump <name> [sfDir].
  */
object QueryDump {
  def main(args: Array[String]): Unit = {
    val q = args.headOption.getOrElse("q01_filter_isin")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.local(8)
    // collect once: show() then count() would execute the plan twice
    val df = SparkEntry.queries(q)(spark, dir)
    val rows = df.collect()
    val spark2 = df.sparkSession
    spark2.createDataFrame(
        java.util.Arrays.asList(rows.take(100): _*), df.schema)
      .show(100, truncate = false)
    println(s"[dump] $q rows=${rows.length}")
    spark.stop()
  }
}
