package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-resilient joins for hot-key distributions.
  *
  * At 100 TB a shuffle join on a skewed key (a handful of event types,
  * one viral document, a default/null id) puts most of the corpus in a
  * few reducer tasks while the rest of the cluster idles. Two remedies,
  * composable with everything else in graft.ops:
  *
  *  1. [[saltedJoin]] — explicit key salting. The fact side gets a
  *     deterministic salt in [0, salts); the dimension side is
  *     replicated once per salt value; the join key becomes
  *     (key, salt), spreading each hot key over `salts` reducers.
  *     Right when the dim side is too big to broadcast but small
  *     enough to replicate `salts` times (classic mid-size dim).
  *  2. [[withAqeSkewHandling]] — Spark 3+ AQE runtime skew-split
  *     (spark.sql.adaptive.skewJoin), which splits oversized shuffle
  *     partitions of a sort-merge join at runtime using map output
  *     statistics. Zero code changes, but only kicks in for SMJ and
  *     only at partition granularity — salting remains the tool when
  *     a SINGLE key exceeds an executor.
  */
object SkewJoin {

  /** Salted inner equi-join on `key`. `saltOn` must be a
    * deterministic expression over fact columns (ideally a unique id)
    * so repeated runs produce identical partitioning — `rand()` would
    * break retry/speculation determinism.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int,
      saltOn: Column): DataFrame = {
    require(salts > 0, "salts must be positive")
    val saltCol = "__graft_salt"
    val salted = fact.withColumn(saltCol, pmod(hash(saltOn), lit(salts)))
    // replicate the dim side once per salt: explode over a literal
    // 0..salts-1 array — salts * |dim| rows, the price of spreading
    // each hot fact key over `salts` reducers
    val dimExp = dim.withColumn(saltCol,
      explode(array((0 until salts).map(lit): _*)))
    salted.join(dimExp, Seq(key, saltCol)).drop(saltCol)
  }

  /** Run `body` with AQE skew-join handling tuned for the given
    * thresholds, restoring previous session config afterwards. The
    * defaults (256 MB / 5x median) are Spark's; tests pass tiny values
    * to force the optimization on local data.
    */
  def withAqeSkewHandling[T](s: SparkSession,
      thresholdBytes: Long = 256L << 20, skewFactor: Double = 5.0)(body: => T): T = {
    val overrides = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> thresholdBytes.toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> skewFactor.toString,
      // splitting only helps if the advisory target is below the skewed
      // partition's size — pin it to the threshold
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> thresholdBytes.toString)
    graft.SessionConf.scoped(s, overrides)(body)
  }
}
