package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector column expressions. Dot products are sequential left
  * folds over the array (Spark `aggregate` HOF) so results are bitwise
  * deterministic and reproducible in the DuckDB oracle's list_reduce
  * mirror — a parallel/tree reduction would make cosine hash-unstable.
  */
object VecFns {

  /** float[] -> double[] (exact widening). */
  def toDouble(c: Column): Column = transform(c, _.cast(DoubleType))

  /** Sequential dot product of two equal-length double arrays, via the
    * codegen'd native expression (graft.expressions.DotProductD,
    * installed in every session by graft.GraftExtensions). Same
    * left-to-right fold as [[dotFold]] — bitwise identical results.
    */
  def dotSeq(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Reference implementation of the same fold with built-in higher-order
    * functions (interpreted per element — kept for equivalence testing).
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** cosine(a, b) = dot / sqrt(dot(a,a) * dot(b,b)) — the parenthesization
    * matches the oracle SQL exactly.
    */
  def cosine(a: Column, b: Column): Column =
    dotSeq(a, b) / sqrt(dotSeq(a, a) * dotSeq(b, b))

  /** L2-normalized copy of a double array: x / sqrt(dot(v,v)). Normalizing
    * once per vector turns every pairwise cosine into a single dot product
    * — at 100 TB the norm pass is a linear scan vs the quadratic pair
    * stage, so this is the only sane shape. The oracle mirrors the same
    * ops (divide each element, then sequential dot), keeping bits equal.
    */
  def l2normalize(v: Column): Column =
    call_function("graft_l2norm", v)

  /** Exact elementwise mean of the double arrays in a group (aggregate):
    * per element `CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count`,
    * from one long buffer (graft.expressions.VecMeanAgg).
    */
  def vecMean(v: Column): Column =
    call_function("graft_vec_mean", v)

  /** Reference implementation with built-in higher-order functions —
    * kept for equivalence testing only: the lambda re-evaluates the
    * captured norm (a full dot product) PER ELEMENT, an O(n²)
    * interpreted loop per row.
    */
  def l2normFold(v: Column): Column = {
    val n = sqrt(dotSeq(v, v))
    transform(v, x => x / n)
  }

  /** DuckDB SQL fragment mirroring l2normalize over column expr `e`
    * (parenthesized so cast expressions can be indexed inside the dot).
    */
  def sqlL2Normalize(e: String): String =
    s"list_transform(($e), x -> x / sqrt(${sqlDotSeq(s"($e)", s"($e)")}))"

  /** Deterministic pseudo-random hyperplanes for sign-LSH: component
    * (j,d) = (((j*dim+d+1) * 2654435761) mod 1999 - 999) / 1000 ∈ (-1, 1).
    * Pure integer math — the same literals are embedded in the Spark plan
    * and the oracle SQL. Parametric in `dim` so the same family serves
    * the 64-dim embeddings and the 16-dim multimodal stub features.
    */
  val LshPlanes: Int = 8
  val LshDim: Int = 64
  def hyperplaneN(j: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      ((((j.toLong * dim + d + 1) * 2654435761L) % 1999L) - 999L) / 1000.0
    }
  def hyperplane(j: Int): Array[Double] = hyperplaneN(j, LshDim)

  /** Sign-LSH bucket id in [0, 2^planes): bit j = (hp_j · v > 0). */
  def lshBucketN(vDouble: Column, dim: Int): Column =
    (0 until LshPlanes).map { j =>
      val hp = lit(hyperplaneN(j, dim))
      when(dotSeq(hp, vDouble) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  def lshBucket(vDouble: Column): Column = lshBucketN(vDouble, LshDim)

  /** DuckDB SQL fragment for the same sequential dot product. */
  def sqlDotSeqN(a: String, b: String, dim: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, $dim + 1), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"
  def sqlDotSeq(a: String, b: String): String = sqlDotSeqN(a, b, LshDim)

  /** DuckDB SQL fragment mirroring l2normalize over column expr `e` at
    * dimension `dim`.
    */
  def sqlL2NormalizeN(e: String, dim: Int): String =
    s"list_transform(($e), x -> x / sqrt(${sqlDotSeqN(s"($e)", s"($e)", dim)}))"

  /** DuckDB SQL literal for hyperplane j (parenthesized so it can be
    * indexed: `(...::DOUBLE[])[i]`).
    */
  def sqlHyperplaneN(j: Int, dim: Int): String =
    hyperplaneN(j, dim).mkString("([", ", ", "]::DOUBLE[])")
  def sqlHyperplane(j: Int): String = sqlHyperplaneN(j, LshDim)
}
