package graft

import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions._
import graft.plans.TopKStrategy

/** The engine's one install point. Listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so every session built with the engine on its classpath
  * ([[Sessions.local]], each `newSession()`, any plain
  * `SparkSession.builder` session) gets the native `graft_*` functions
  * and the [[TopKStrategy]] planner strategy once, when it is built.
  *
  * [[graft.plans.TopKRewriteRule]] is deliberately not installed: it
  * rewrites `row_number`/`rn <= k` windows, which Bench times and
  * `PlanBudgetSpec` pins as windows. Only its own test session adds it.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  /** The native expressions by SQL name. */
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    ("graft_dot", e => DotProductD(e(0), e(1))),
    ("graft_l2norm", e => L2NormalizeD(e(0))),
    ("graft_vec_mean", e => VecMeanAgg(e(0)).toAggregateExpression()),
    ("graft_tile_pairs", e => TilePairsExpr(e)),
    ("graft_topk", e => TopKAgg(e(0), e(1), e(2)).toAggregateExpression()),
    ("graft_md5p60", e => Md5Prefix60(e(0))),
    ("graft_minhash_slots", e => MinhashSlotsExpr(e(0))),
    ("graft_kmv", e => KmvDistinct(e(0), e(1)).toAggregateExpression()),
    ("graft_kmv_set", e => KmvSetAgg(e(0), e(1)).toAggregateExpression()),
    ("graft_hll", e => HllDistinct(e(0), e(1)).toAggregateExpression()),
    ("graft_fingerprint", e => FingerprintExpr(e(0))),
    ("graft_bloom", e => BloomAgg(e(0), e(1), e(2), e(3)).toAggregateExpression()),
    ("graft_cdc_cuts", e => CdcCutsExpr(e(0))),
    ("graft_char_bigrams", e => CharBigramsExpr(e(0))),
    ("graft_char_trigrams", e => CharTrigramsExpr(e(0))),
    // k must be an integer literal: it folds to a constant here
    ("graft_token_windows", e => TokenWindowsExpr(e(0), BloomBits.longLit(e(1), "k").toInt)),
    // m and k must be integer literals: they fold to constants here
    ("graft_bloom_contains", e => BloomContains(e(0), e(1), e(2),
      BloomBits.longLit(e(3), "m"), BloomBits.longLit(e(4), "k").toInt)),
    // p must be a positive integer literal: it folds to a constant here
    ("graft_gram_h60s", e => GramH60ModExpr(e(0), BloomBits.longLit(e(1), "p"))),
    // m and k must be integer literals: they fold to constants here
    ("graft_gram_bloom", e => GramBloomHitsExpr(e(0), e(1),
      BloomBits.longLit(e(2), "m"), BloomBits.longLit(e(3), "k").toInt)),
  )
}
