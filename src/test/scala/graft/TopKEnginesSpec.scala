package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** All four top-k engine paths must agree row-for-row on the same random
  * input: the window form (e04's shape), the typed Aggregator udaf
  * (e06), the native TypedImperativeAggregate (e07), and the custom plan
  * operator (e08). One divergence here means one of the oracle rows is
  * only accidentally correct on the synthetic tables.
  */
class TopKEnginesSpec extends SparkSpec {
  import spark.implicits._

  private val K = 4

  private lazy val df: DataFrame = {
    val rnd = new scala.util.Random(20260812)
    // duplicate values across groups + singleton groups + a big group
    (1 to 4000).map { i =>
      val g = if (i % 11 == 0) "solo" + i else "g" + (i % 13)
      (g, i.toLong, rnd.nextInt(500) / 3.0)
    }.toDF("grp", "id", "value").repartition(7).cache()
  }

  private def canon(rows: Array[org.apache.spark.sql.Row]): Set[(String, Int, Long, Double)] =
    rows.map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  private lazy val windowPath = {
    val w = Window.partitionBy("grp").orderBy(desc("value"), col("id"))
    canon(df.withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select("grp", "rn", "id", "value").collect())
  }

  test("typed Aggregator udaf matches the window path") {
    val topk = udaf(new graft.functions.TopK.ByValueDesc(K),
      Encoders.product[graft.functions.TopK.Entry])
    val got = canon(df.groupBy("grp")
      .agg(topk(col("value"), col("id")).as("top"))
      .select(col("grp"), posexplode(col("top")))
      .select(col("grp"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("id"), col("col.value").as("value"))
      .collect())
    assert(got == windowPath)
  }

  test("native TypedImperativeAggregate matches the window path") {
    val got = canon(df.groupBy("grp")
      .agg(call_function("graft_topk", col("value"), col("id"), lit(K)).as("top"))
      .select(col("grp"), posexplode(col("top")))
      .select(col("grp"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("id"), col("col.value").as("value"))
      .collect())
    assert(got == windowPath)
  }

  test("custom plan operator matches the window path") {
    val got = canon(graft.plans.TopKPlan
      .topKPerGroup(df, Seq("grp"), "value", "id", K)
      .select("grp", "rn", "id", "value").collect())
    assert(got == windowPath)
  }
}
