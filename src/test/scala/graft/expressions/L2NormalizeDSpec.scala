package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VecFns

class L2NormalizeDSpec extends SparkSpec {
  import spark.implicits._

  test("graft_l2norm matches the HOF fold bitwise on random vectors") {
    val rng = new scala.util.Random(47)
    val data = Seq.fill(200)(Array.fill(64)(rng.nextDouble() * 2 - 1))
    val rows = data.toDF("v")
      .select(
        VecFns.l2normalize(col("v")).as("native"),
        VecFns.l2normFold(col("v")).as("hof"))
      .collect()
    assert(rows.forall { r =>
      val a = r.getSeq[Double](0)
      val b = r.getSeq[Double](1)
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
      }
    })
  }

  test("graft_l2norm evaluates in interpreted mode too, and yields unit norm") {
    val got = Seq(Tuple1(Array(3.0, 4.0))).toDF("v")
      .select(VecFns.l2normalize(col("v"))).collect()(0).getSeq[Double](0)
    assert(got == Seq(0.6, 0.8))
  }
}
