package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact all-pairs dot-product join over packed tiles. The vectors
  * (vec_id, e) are grouped into tiles of at most [[TileSize]] vectors,
  * contiguous by vec_id (tile = vec_id >> 7, a floor division), each packed into
  * its sorted ids and one flat `double[]`. Every tile is paired with
  * itself and with every later tile in one plan, and the native kernel
  * (graft.expressions.TilePairsExpr) scores each tile pair's vector
  * pairs with the `graft_dot` fold. Output: (vec_a, vec_b, c) for every
  * vec_a < vec_b with c >= `minC`, bit-identical to the per-pair
  * `a.vec_id < b.vec_id` nested-loop join with `graft_dot`.
  *
  * The tile number is a monotone function of vec_id, so a tile pair
  * (a, b) with a < b holds only pairs with vec_a < vec_b, and the
  * kernel's own id test settles the diagonal tiles.
  *
  * Plan shape: one exchange spreads the tiles over `p` partitions
  * (explicit, so AQE does not fold them into one task), and a
  * CartesianProduct of those partitions with themselves runs p² tasks;
  * p ≈ √(2·cores), at most one partition per tile. Vectors stay on the
  * executors.
  */
object TileJoin {

  /** Vectors per tile: two 128×64 double tiles fit a core's L2 cache. */
  val TileSize: Int = 1 << 7

  /** `v` carries (vec_id: bigint, e: array<double>) and holds `n` rows. */
  def pairs(v: DataFrame, n: Long, minC: Double): DataFrame = {
    val cores = v.sparkSession.sparkContext.defaultParallelism
    val p = math.max(1L, math.min(math.ceil(math.sqrt(2.0 * cores)).toLong,
      (n + TileSize - 1) / TileSize)).toInt
    val tiles = v.select(shiftright(col("vec_id"), 7).as("tile"), col("vec_id"), col("e"))
      .repartition(p, col("tile"))
      .groupBy("tile")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("e")))).as("t"))
      .select(col("tile"), col("t.vec_id").as("ids"), flatten(col("t.e")).as("vecs"))
    val a = tiles.as("a")
    val b = tiles.as("b").hint("shuffle_replicate_nl")
    a.join(b, col("a.tile") <= col("b.tile"))
      .select(inline(call_function("graft_tile_pairs", col("a.ids"), col("a.vecs"),
        col("b.ids"), col("b.vecs"), lit(minC))))
  }
}
