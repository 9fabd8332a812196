package graft.tools

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Explain dumps for the STREAMING rows' per-micro-batch transforms —
  * PlanDump on a stream row runs the whole stream and prints only the
  * final sink-table read, which hides the part that matters (the
  * per-row expression pipeline each micro-batch executes). This prints
  * the same transform applied to the batch twin of the source (the
  * micro-batch plan shape). Not part of the driver contract.
  * Usage: runMain graft.tools.PrintTransformPlan <d21|p23> [sfDir] [mode]
  */
object PrintTransformPlan {
  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("p23")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val mode = args.lift(2).getOrElse("formatted")
    val spark = graft.Sessions.local(4)
    val docs = graft.queries.Tables(spark, dir, "documents")
    val df = which match {
      case "d21" =>
        graft.streaming.Streaming.dedupNearStream(
          docs.withColumn("ts",
            timestamp_micros(col("doc_id") * 1000000L + lit(86400000000L))))
          .select(col("sig_key"))
      case "p23" =>
        val M = 1L << 16
        val K = 3
        // the bitset contents don't change the plan shape; empty is fine
        graft.streaming.Streaming.decontaminateStream(
          docs.filter(col("doc_id") % 20 =!= 0),
          new Array[Byte]((M / 8).toInt), M, K)
          .select(col("doc_id"), col("n_grams"), col("n_bloom"))
      case other => sys.error(s"unknown transform $other")
    }
    println(s"===== $which per-micro-batch transform (batch twin, $mode) =====")
    println(df.queryExecution.explainString(ExplainMode.fromString(mode)))
    spark.stop()
  }
}
