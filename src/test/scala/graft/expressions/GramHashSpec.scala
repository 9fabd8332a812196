package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFns._

/** GramH60ModExpr / GramBloomHitsExpr ≡ the built-in higher-order
  * chains they replace in the streaming per-row hot paths (d21's
  * signature front, p23's Bloom probe) — on the real corpus and on the
  * split/gram edges where the implementations could plausibly diverge
  * (trailing/multi-space empties, <3-token docs, duplicate grams,
  * unicode bytes, empty text).
  */
class GramHashSpec extends SparkSpec {

  private val M = 1L << 16
  private val K = 3

  private def edgeDf = {
    import spark.implicits._
    Seq(
      1L -> "a b c",                 // minimal gram
      2L -> "a b",                   // <3 tokens -> empty
      3L -> "",                      // empty text
      4L -> "a  b c",                // empty token inside a gram
      5L -> "a b c ",                // trailing empty token
      6L -> " a b",                  // leading empty token
      7L -> "x y x y x y x y",       // duplicate grams collapse
      8L -> "café über naïve schloß straße", // multi-byte UTF-8 tokens
      9L -> "a b c d e f g h i j",   // many grams
      10L -> ("tok " * 2000).trim)   // long doc, one distinct gram each 3-run
      .toDF("doc_id", "text")
  }

  private def corpus = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    .select("doc_id", "text")

  // ---- graft_gram_h60s ----

  private def builtinH60s(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
      transform(array_distinct(grams3(tokens(col("text")))),
        g => h60(g) % lit(MinhashP)).as("hms"))

  private def nativeH60s(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
      call_function("graft_gram_h60s", col("text"), lit(MinhashP)).as("hms"))
  }

  test("graft_gram_h60s == transform(array_distinct(grams3(tokens)), h60 % P): corpus") {
    val a = builtinH60s(corpus).orderBy("doc_id").collect()
    val b = nativeH60s(corpus).orderBy("doc_id").collect()
    assert(a.length === b.length)
    assert(a === b)
  }

  test("graft_gram_h60s == built-in chain: edges") {
    val a = builtinH60s(edgeDf).orderBy("doc_id").collect()
    val b = nativeH60s(edgeDf).orderBy("doc_id").collect()
    assert(a === b)
  }

  // ---- graft_gram_bloom ----

  private def bitsFor(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    df.select(explode(array_distinct(grams3(tokens(col("text"))))).as("g"))
      .filter(length(col("g")) % 2 === 0) // an arbitrary benchmark subset
      .withColumn("h1", h60(col("g")))
      .withColumn("h2", h60(concat(lit("#"), col("g"))))
      .agg(expr(s"graft_bloom(h1, h2, $M, $K)").as("bits"))
      .collect()(0).getAs[Array[Byte]]("bits")
  }

  private def builtinBloom(df: org.apache.spark.sql.DataFrame, bits: Array[Byte]) = {
    val grams = array_distinct(grams3(tokens(col("text"))))
    val hits = filter(grams, g => call_function("graft_bloom_contains",
      lit(bits), h60(g), h60(concat(lit("#"), g)), lit(M), lit(K)))
    df.select(col("doc_id"), size(grams).cast("long").as("n_grams"),
      size(hits).cast("long").as("n_bloom"))
  }

  private def nativeBloom(df: org.apache.spark.sql.DataFrame, bits: Array[Byte]) =
    df.select(col("doc_id"),
        call_function("graft_gram_bloom", col("text"), lit(bits), lit(M), lit(K)).as("gb"))
      .select(col("doc_id"), col("gb.n_grams").as("n_grams"),
        col("gb.n_bloom").as("n_bloom"))

  test("graft_gram_bloom == size(grams)/size(filter(bloom_contains)): corpus") {
    val bits = bitsFor(corpus)
    val a = builtinBloom(corpus, bits).orderBy("doc_id").collect()
    val b = nativeBloom(corpus, bits).orderBy("doc_id").collect()
    assert(a.length === b.length)
    assert(a === b)
  }

  test("graft_gram_bloom == built-in chain: edges (incl. all-zero and all-one bitsets)") {
    val zero = new Array[Byte]((M / 8).toInt)
    val ones = Array.fill[Byte]((M / 8).toInt)(0xff.toByte)
    for (bits <- Seq(zero, ones, bitsFor(edgeDf))) {
      val a = builtinBloom(edgeDf, bits).orderBy("doc_id").collect()
      val b = nativeBloom(edgeDf, bits).orderBy("doc_id").collect()
      assert(a === b)
    }
  }
}
