package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VecFns

class DotProductDSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot matches the HOF fold bitwise on random vectors") {
    val rng = new scala.util.Random(42)
    val data = Seq.fill(200)((
      Array.fill(64)(rng.nextDouble() * 2 - 1),
      Array.fill(64)(rng.nextDouble() * 2 - 1)))
    val df = data.toDF("a", "b")
      .select(
        VecFns.dotSeq(col("a"), col("b")).as("native"),
        VecFns.dotFold(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    assert(rows.forall(r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("graft_dot evaluates in interpreted mode too") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(df.select(VecFns.dotSeq(col("a"), col("b"))).collect()(0).getDouble(0) == 32.0)
  }
}
