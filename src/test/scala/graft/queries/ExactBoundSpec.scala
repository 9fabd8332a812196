package graft.queries

import graft.SparkSpec

/** Pins the bound contract of the exact embedding-pair reference
  * (DedupQueries.exactPairs): the quadratic all-pairs build runs over
  * every vector up to MaxExactVectors and is an error above it — never
  * a silent sample, since the oracles of d06/d15/d16/d17 are all-rows.
  */
class ExactBoundSpec extends SparkSpec {

  import spark.implicits._

  /** n identical unit vectors: every pair has cosine 1. */
  private def vecs(n: Int) =
    (0L until n.toLong).map(i => (i, Seq(0.6, 0.8))).toDF("vec_id", "e")

  test("at or below the bound: the input passes through whole") {
    val out = DedupQueries.exactPairs(vecs(100), 100L)
    assert(out.count() === 100L * 99L / 2)
  }

  test("above the bound: the exact reference is an error, not a sample") {
    val err = intercept[IllegalArgumentException](DedupQueries.exactPairs(vecs(101), 100L))
    assert(err.getMessage.contains("101 vectors > bound 100"), err.getMessage)
  }

  test("test-SF embeddings sit below the production bound (full parity)") {
    // the oracle for d06/d15/d16/d17 is all-rows; this guards that the
    // bound cannot engage at any driver test SF
    val n = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").count()
    assert(n <= DedupQueries.MaxExactVectors,
      s"sf0.1 has $n vectors > bound ${DedupQueries.MaxExactVectors}: oracle parity would break")
  }
}
