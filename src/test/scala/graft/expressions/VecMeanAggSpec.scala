package graft.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.SparkSpec
import graft.functions.VecFns.vecMean

/** graft_vec_mean (VecMeanAgg) against the per-dimension decimal
  * expression it replaces — `CAST(SUM(CAST(x AS DECIMAL(28,9))) AS
  * DOUBLE) / count(*)`, the form the oracles replay — bit for bit, plus
  * its errors where the decimal form turned bad input into NULL.
  */
class VecMeanAggSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  /** The replaced expression: one decimal sum per dimension, / count. */
  private def decimalMean(e: Column, d: Int): Seq[Column] =
    (0 until d).map(i =>
      sum(element_at(e, i + 1).cast(DecimalType(28, 9))).cast(DoubleType) / count(lit(1)))

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToLongBits)

  /** (g, native mean bits, decimal mean bits) per group. */
  private def both(df: DataFrame, d: Int): Seq[(Int, Seq[Long], Seq[Long])] =
    df.groupBy("g")
      .agg(vecMean(col("e")).as("m"), array(decimalMean(col("e"), d): _*).as("want"))
      .as[(Int, Seq[Double], Seq[Double])].collect()
      .map { case (g, m, w) => (g, bits(m), bits(w)) }.toSeq.sortBy(_._1)

  /** Seeded vectors: normalized-looking values, large values, negatives,
    * and values half-way at the 9th decimal (x.xxxxxxxxx5).
    */
  private def vectors(n: Int, groups: Int, seed: Int): DataFrame = {
    val rng = new scala.util.Random(seed)
    def elem(): Double = rng.nextInt(6) match {
      case 0 => rng.nextGaussian() / 8
      case 1 => (rng.nextDouble() - 0.5) * 2000
      case 2 => (rng.nextLong() % 1000000000L + 0.5) / 1e9 // half-way at 1e-9
      case 3 => -(rng.nextInt(1000) + 0.5) / 1e9
      case 4 => rng.nextInt(200000) / 1e5 - 1.0
      case _ => (rng.nextFloat() * 2 - 1).toDouble
    }
    (0 until n).map(i => (i % groups, Array.fill(dim)(elem()))).toDF("g", "e")
  }

  test("equals the 64-column decimal mean bit for bit on seeded vectors") {
    val got = both(vectors(600, 13, 7), dim)
    assert(got.length == 13)
    got.foreach { case (g, m, w) => assert(m == w, s"group $g differs") }
  }

  test("one-row groups return the row's own rounded values") {
    val got = both(vectors(40, 40, 11), dim)
    assert(got.length == 40)
    got.foreach { case (g, m, w) => assert(m == w, s"group $g differs") }
  }

  test("1 and 7 partitions give the same bits") {
    val v = vectors(500, 5, 3)
    def run(df: DataFrame) = df.groupBy("g").agg(vecMean(col("e")).as("m"))
      .as[(Int, Seq[Double])].collect().map { case (g, m) => (g, bits(m)) }.toMap
    val one = run(v.repartition(1))
    assert(one == run(v.repartition(7)))
    assert(one == both(v, dim).map { case (g, _, w) => (g, w) }.toMap)
  }

  test("the fast rounding agrees with Spark's conversion away from half-way points") {
    val rng = new scala.util.Random(5)
    val xs = Seq.fill(200000)(rng.nextGaussian() * math.pow(10, rng.nextInt(7) - 4)) ++
      Seq(0.0, -0.0, 1e-10, -1e-10, 0.5e-9, -0.5e-9, 2.147483647, 2.1474836475, -2.1474836475)
    xs.foreach(x => assert(VecMeanAgg.unscaled9(x) == VecMeanAgg.exact(x), s"x = $x"))
  }

  test("no rows give NULL; null arrays are skipped") {
    val e = Seq.empty[Seq[Double]].toDF("e").agg(vecMean(col("e"))).head()
    assert(e.isNullAt(0))
    val m = Seq(Some(Seq(1.0, 3.0)), None).toDF("e").agg(vecMean(col("e"))).head()
    assert(m.getSeq[Double](0) == Seq(1.0, 3.0))
  }

  private def failure(rows: Seq[Seq[Double]]): String = {
    val err = intercept[Exception](rows.toDF("e").agg(vecMean(col("e"))).collect())
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).find(_.contains("graft_vec_mean"))
      .getOrElse(fail(s"no graft_vec_mean error in $err"))
  }

  test("NaN, infinite elements and overflow raise instead of turning NULL") {
    assert(failure(Seq(Seq(0.1, Double.NaN))).contains("non-finite"))
    assert(failure(Seq(Seq(Double.PositiveInfinity))).contains("non-finite"))
    assert(failure(Seq(Seq(1e20))).contains("overflows"))
    assert(failure(Seq(Seq(5e9), Seq(5e9))).contains("overflows"))
    assert(failure(Seq(Seq(1.0, 2.0), Seq(1.0))).contains("length"))
  }
}
