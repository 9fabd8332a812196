package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CharBigramsExpr ≡ the built-in clean→split→zip_with→explode→agg
  * chain it replaces — on the real corpus and on the edges where the
  * two implementations could plausibly diverge (unicode lowercasing
  * into [a-z], stripped chars joining neighbors, degenerate strings).
  */
class CharBigramsSpec extends SparkSpec {

  private def builtinCounts(df: org.apache.spark.sql.DataFrame) = {
    val cs = split(regexp_replace(lower(col("text")), "[^a-z ]", ""), "")
    val n1 = length(regexp_replace(lower(col("text")), "[^a-z ]", "")) - 1
    df.select(col("doc_id"), explode(zip_with(
        slice(cs, lit(1), greatest(n1, lit(0))), slice(cs, lit(2), greatest(n1, lit(0))),
        (a, b) => concat(a, b))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
  }

  private def nativeCounts(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
        explode(call_function("graft_char_bigrams", col("text"))).as("bg"))
      .select(col("doc_id"), col("bg.g").as("g"), col("bg.n").as("n"))
  }

  test("native one-pass bigram counts == built-in chain on the real corpus") {
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val a = builtinCounts(docs).orderBy("doc_id", "g").collect()
    val b = nativeCounts(docs).orderBy("doc_id", "g").collect()
    assert(a.length === b.length)
    assert(a === b)
  }

  test("edges: unicode-lowercase into [a-z], stripped joins, degenerates") {
    import spark.implicits._
    val rows = Seq(
      1L -> "ab",                      // minimal bigram
      2L -> "a",                       // sub-bigram -> empty
      3L -> "",                        // empty
      4L -> "!!!",                     // all stripped -> empty
      5L -> "a!b",                     // strip JOINS neighbors: "ab"
      6L -> "A B",                     // ASCII lowering + space bigrams
      7L -> "aKb",                // Kelvin sign lowers to 'k': "akb"
      8L -> "café bar",           // é stripped, neighbors join
      9L -> "Über maß",      // Ü->ü stripped; ß stripped
      10L -> "  a  ",                  // runs of spaces kept (space is in-alphabet)
      11L -> ("x" * 5000 + "y"))       // long run: count 4999 on one key
    val df = rows.toDF("doc_id", "text")
    val a = builtinCounts(df).orderBy("doc_id", "g").collect()
    val b = nativeCounts(df).orderBy("doc_id", "g").collect()
    assert(a === b)
  }
}
