package graft.expressions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TopKAggSpec extends SparkSpec {

  test("graft_topk matches the window-function top-k over skewed groups") {
    val df = spark.range(20000)
      .select((col("id") % 3).cast("string").as("g"), // few, huge groups
        (col("id") * 131 % 10007).cast("double").as("v"),
        col("id"))
    val viaAgg = df.groupBy("g")
      .agg(expr("graft_topk(v, id, 7)").as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.value"), col("t.id"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val w = Window.partitionBy("g").orderBy(desc("v"), col("id"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).select("g", "v", "id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
  }

  test("output is ordered best-first with deterministic tie-break") {
    import spark.implicits._
    val df = Seq(("a", 5.0, 2L), ("a", 5.0, 1L), ("a", 9.0, 3L), ("a", 1.0, 4L))
      .toDF("g", "v", "id")
    val top = df.groupBy("g").agg(expr("graft_topk(v, id, 3)").as("top"))
      .select(explode(col("top")).as("t")).select("t.value", "t.id")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(top == Seq((9.0, 3L), (5.0, 1L), (5.0, 2L)))
  }

  test("serde round-trip preserves the buffer") {
    val agg = TopKAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      org.apache.spark.sql.catalyst.expressions.Literal(0L),
      org.apache.spark.sql.catalyst.expressions.Literal(3))
    val buf = agg.createAggregationBuffer()
    Seq((1.0, 10L), (5.0, 2L), (3.0, 7L), (9.0, 1L)).foreach { t =>
      val b2 = agg.createAggregationBuffer(); b2.enqueue(t); agg.merge(buf, b2)
    }
    val restored = agg.deserialize(agg.serialize(buf))
    assert(restored.toSeq.sorted == buf.toSeq.sorted)
    assert(restored.size == 3 && !restored.toSeq.contains((1.0, 10L)))
  }
}
