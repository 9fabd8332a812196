package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFns._
import graft.ops.KMeans

/** Session-scoped trained coarse quantizer over `embeddings.embedding` —
  * the learned replacement for the synthetic `label` stand-in (measured
  * weak by s10/d15). One k-means fit per (session, dir) serves every
  * consumer: s11 (learned-IVF search), s12 (quantizer recall
  * comparison), d16 (near-dup blocking comparison).
  *
  * K=8 fits the smallest test corpus (sf0.001 has 50 vectors); 3 Lloyd's
  * rounds from the deterministic seed draw. The memoized frames are
  * k rows (centroids) and n narrow rows (assignments) — not data-scale.
  */
object Quantizer {

  val K = 8
  val Iters = 3

  private[queries] val memo = Memo.frames()

  def evict(s: SparkSession, dir: String): Unit = memo.evict(s, dir)

  /** Normalized vectors (vec_id, label, e), memoized per (session, dir)
    * and WIDENED to the session's parallelism when the source scan is
    * narrower: the embeddings file at test SFs is a single parquet
    * split, which would run every downstream corpus pass (the 3 Lloyd's
    * rounds, the final assign, the exact all-pairs stream side) on ONE
    * core. At 100 TB the scan has thousands of splits and the widen
    * branch never fires; here it is one tiny one-time shuffle that buys
    * every quadratic/iterative consumer full parallelism.
    *
    * r14: carries `label` so the whole s-family shares THIS memo —
    * every SimilarityQueries row previously re-ran the l2normalize
    * projection (and the label-IVF rows a second un-widened copy) from
    * the single-split scan inside its own timed region (VERDICT r13
    * item 7). Consumers that don't need label project it away; the
    * cached frame grows by one int column.
    */
  def vecsNorm(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "kmVecs") {
      Tables.widenIfNarrow(s, Tables(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"),
          l2normalize(toDouble(col("embedding"))).as("e"))
    }

  /** Trained centroids (cid, c), cid ∈ 1..K. */
  def centroids(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "kmCent") {
      KMeans.fit(vecsNorm(s, dir), K, Iters)
    }

  /** Final full-corpus assignment (vec_id, e, cid) under the trained
    * centroids — e rides along so consumers need no join back to the
    * vectors.
    */
  def assignments(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "kmAsg") {
      KMeans.assign(vecsNorm(s, dir), centroids(s, dir))
    }

  /** DuckDB WITH-list fragment: `v` (normalized vectors) + the unrolled
    * fit layers ending in `cent$Iters` and the assignment `akm`. Prepend
    * to an oracle query as `WITH $sqlCtes, ...`.
    */
  def sqlCtes: String =
    s"""v AS (SELECT vec_id, ${sqlL2Normalize("embedding::DOUBLE[]")} AS e FROM embeddings),
       |${KMeans.sqlFitCtes(K, Iters, LshDim)}""".stripMargin

  /** The name of the final centroid CTE inside [[sqlCtes]]. */
  def sqlCentFinal: String = s"cent$Iters"
}
