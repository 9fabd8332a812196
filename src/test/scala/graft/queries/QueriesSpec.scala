package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.io.Writers

/** Regression guard over the whole driver surface: every declared query
  * runs at sf0.001, every query has an oracle, the flagship entry is
  * non-empty, SQL-surface and sinks work.
  */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every query has an oracle and runs at sf0.001") {
    val qs = SparkEntry.queries
    val missing = qs.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- qs.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
    qs.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, dir)
      withClue(name) {
        assert(df.columns.nonEmpty)
        assert(df.count() >= 0)
      }
    }
  }

  test("d13 self-tuned dedup: exactly one legal chosen config, keepers are real docs") {
    val df = SparkEntry.queries("d13_auto_dedup")(spark, dir).cache()
    try {
      val rs = df.select("chosen_r").distinct().collect().map(_.getLong(0))
      assert(rs.length == 1 && Set(1L, 2L, 4L, 8L)(rs.head),
        s"chosen_r must be one banding config, got ${rs.mkString(",")}")
      val docs = Tables(spark, dir, "documents").select("doc_id")
      assert(df.join(docs, Seq("doc_id"), "left_anti").count() == 0,
        "every keeper must be an existing doc_id")
      val kept = df.count()
      assert(kept > 0 && kept <= docs.count())
    } finally { df.unpersist(); () }
  }

  test("approx_count_distinct sketch stays within 5% of the exact x16 answer") {
    // x16's exact distinct is the oracle row; this pins the documented
    // 100 TB swap (HLL sketch in the same call shape) to a real bound
    val exact = SparkEntry.queries("x16_distinct_counts")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (t, a) =>
      val e = exact(t)
      assert(math.abs(a - e) <= math.max(1L, (0.05 * e).toLong),
        s"sketch off by >5% for $t: approx $a vs exact $e")
    }
  }

  test("entry: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("sql surface: registered views answer spark.sql") {
    val out = Sql.run(spark, dir,
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    assert(out.collect()(0).getLong(0) > 0)
  }

  test("partitioned parquet sink: layout prunes on read") {
    Writers.withScratchDir(spark, "graft-sink") { scratch =>
      val tmp = s"$scratch/out"
      val li = Tables(spark, dir, "lineitem")
      Writers.parquetPartitioned(li, tmp, Seq("l_returnflag"), targetFileCount = 2)
      val back = spark.read.parquet(tmp)
      assert(back.count() == li.count())
      // partition dirs exist -> pruning-capable layout
      val dirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("l_returnflag="))
      assert(dirs.toSet.subsetOf(Set("l_returnflag=A", "l_returnflag=N", "l_returnflag=R")))
      assert(dirs.nonEmpty)
      // filter on the partition column reads only that partition
      val one = back.filter(col("l_returnflag") === "A")
      assert(one.count() > 0 && one.count() < li.count())
    }
  }
}
