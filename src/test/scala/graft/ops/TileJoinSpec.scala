package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VecFns._

/** The blocked exact-pairs join (TileJoin + graft_tile_pairs) against
  * the per-pair nested-loop join it replaces — `a.vec_id < b.vec_id`,
  * `graft_dot`, `c >= minC` — bit for bit, on tile-boundary sizes and
  * on ids that are not dense.
  */
class TileJoinSpec extends SparkSpec {
  import spark.implicits._

  /** n normalized 16-d vectors around four directions (so many pairs
    * pass 0.4), with ids `id(i)`.
    */
  private def vectors(n: Int, id: Int => Long = _.toLong): DataFrame = {
    val rng = new scala.util.Random(n)
    val rows = (0 until n).map { i =>
      val raw = Array.tabulate(16)(d => (if (d % 4 == i % 4) 1.0 else 0.0) + rng.nextGaussian() * 0.4)
      (id(i), raw)
    }
    rows.toDF("vec_id", "raw").select(col("vec_id"), l2normalize(col("raw")).as("e"))
  }

  private def nestedLoop(v: DataFrame, minC: Double): Set[(Long, Long, Long)] =
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"), dotSeq(col("a.e"), col("b.e")).as("c"))
      .filter(col("c") >= minC)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b, java.lang.Double.doubleToLongBits(c)) }.toSet

  private def tiled(v: DataFrame, minC: Double): Seq[(Long, Long, Long)] = {
    val out = TileJoin.pairs(v, v.count(), minC)
    assert(out.columns.toSeq == Seq("vec_a", "vec_b", "c"))
    out.as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b, java.lang.Double.doubleToLongBits(c)) }.toSeq
  }

  private def same(v: DataFrame, minC: Double): Int = {
    val got = tiled(v, minC)
    assert(got.distinct.length == got.length, "a pair came out twice")
    val want = nestedLoop(v, minC)
    assert(got.toSet == want)
    got.length
  }

  test("0 and 1 vectors give no pairs") {
    assert(same(vectors(0), 0.4) == 0)
    assert(same(vectors(1), 0.4) == 0)
  }

  test("a count that is not a multiple of the tile size matches the nested loop") {
    val n = 2 * TileJoin.TileSize + 45
    assert(same(vectors(n), 0.4) > 0)
    // every pair, so the diagonal and off-diagonal tiles are all covered
    assert(same(vectors(n), -2.0) == n * (n - 1) / 2)
  }

  test("sparse and negative ids (tiles of uneven size) match the nested loop") {
    assert(same(vectors(300, i => (i % 3) * 100000000L + i * 7L - 500L), 0.4) > 0)
  }

  test("the join plans no per-pair join and sends no vector to the driver") {
    val plan = TileJoin.pairs(vectors(10), 10, 0.4).queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
