package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class TokenWindowsSpec extends SparkSpec {
  import spark.implicits._

  /** The built-in chain the native expression replaces: K−1 zip_with
    * layers over shifted slices (the grams3 shape generalized to K).
    */
  private def zipChain(t: Column, k: Int): Column = {
    val len = greatest(size(t) - (k - 1), lit(0))
    (2 to k).foldLeft(slice(t, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(t, lit(j), len), (a, b) => concat_ws(" ", a, b))
    }
  }

  private def native(t: Column, k: Int): Column =
    call_function("graft_token_windows", t, lit(k))

  test("graft_token_windows == zip_with chain on random corpora (K=12, 3, 1)") {
    val rng = new scala.util.Random(53)
    val vocab = Vector("a", "bb", "ccc", "dddd", "e", "ff", "g", "hh")
    // lengths straddling every boundary: 0, 1, K−1, K, K+1, long
    val docs = Seq(0, 1, 11, 12, 13, 40, 200) ++ Seq.fill(50)(rng.nextInt(60))
    val df = docs.map(n => Seq.fill(n)(vocab(rng.nextInt(vocab.size)))).toDF("t")
    for (k <- Seq(12, 3, 1)) {
      val rows = df.select(native(col("t"), k).as("n"), zipChain(col("t"), k).as("z"))
        .collect()
      assert(rows.forall(r => r.getSeq[String](0) == r.getSeq[String](1)),
        s"native != zip chain at k=$k")
    }
  }

  test("graft_token_windows on the documents fixture matches, incl. empty and multibyte") {
    val df = Seq("", "one two", "α β γ δ ε ζ η θ ι κ λ μ ν ξ", "solo")
      .toDF("text").select(split(col("text"), " ").as("t"))
    val rows = df.select(native(col("t"), 12).as("n"), zipChain(col("t"), 12).as("z"))
      .collect()
    assert(rows.forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
    // the 14-token Greek row yields 3 windows of 12 tokens
    val greek = rows(2).getSeq[String](0)
    assert(greek.length == 3 && greek.head == "α β γ δ ε ζ η θ ι κ λ μ")
  }
}
