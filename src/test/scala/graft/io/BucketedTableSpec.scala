package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Tables

/** `Writers.bucketedTable` is the PRODUCTION write path for the
  * co-located-join layout ops.BucketedJoinSpec demonstrates on
  * synthetic managed tables: this spec drives it on the real testdata
  * tables and pins the two properties the writer adds — EXTERNAL
  * parquet at a caller-chosen path, and exactly ONE file per bucket
  * (the pre-write repartition; without it every task writes a file per
  * bucket it touches — task-count × bucket small files). Then the
  * payoff: the join plans with zero shuffle exchanges (broadcast
  * disabled so a small test side cannot fake it) and aggregates
  * identically to the plain shuffled join.
  */
class BucketedTableSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("bucketedTable: one file per bucket; join shuffle-free with the same result") {
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    Writers.withScratchDir(spark, "graft-bucket") { tmp =>
      Writers.bucketedTable(o, "bw_orders", s"$tmp/o", "o_orderkey", 8)
      Writers.bucketedTable(l, "bw_lineitem", s"$tmp/l", "l_orderkey", 8)
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table("bw_orders").join(spark.table("bw_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"expected a non-broadcast join over the bucketed scans:\n$plan")
        // the one-file-per-bucket write: 8 data files per table, no
        // task-count x bucket small-file fan-out
        def dataFiles(p: String) =
          new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
        assert(dataFiles(s"$tmp/o") == 8, "one file per bucket on the orders side")
        assert(dataFiles(s"$tmp/l") == 8, "one file per bucket on the lineitem side")
        // result parity vs the plain (shuffled) join on the source frames
        val got = j.groupBy().agg(count(lit(1)), sum("l_quantity")).collect()
        val want = o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy().agg(count(lit(1)), sum("l_quantity")).collect()
        assert(got.toSeq == want.toSeq)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        spark.sql("DROP TABLE IF EXISTS bw_orders")
        spark.sql("DROP TABLE IF EXISTS bw_lineitem")
        ()
      }
    }
  }
}
