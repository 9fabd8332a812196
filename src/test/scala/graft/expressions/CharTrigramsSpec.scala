package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** CharTrigramsExpr ≡ the built-in clean→split→slice×3→zip_with²→
  * explode→agg chain it replaces (the trained language-ID family's
  * former per-row corpus parse) — on the real corpus and on the edges
  * where the two implementations could plausibly diverge (unicode
  * lowercasing into [a-z], stripped chars joining neighbors,
  * degenerate strings).
  */
class CharTrigramsSpec extends SparkSpec {

  private def builtinCounts(df: org.apache.spark.sql.DataFrame) = {
    val t = regexp_replace(lower(col("text")), "[^a-z ]", "")
    val cs = split(t, "")
    val n2 = greatest(length(t) - 2, lit(0))
    val tris = zip_with(
      zip_with(slice(cs, lit(1), n2), slice(cs, lit(2), n2), (a, b) => concat(a, b)),
      slice(cs, lit(3), n2), (ab, c) => concat(ab, c))
    df.select(col("doc_id"), explode(tris).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
  }

  private def nativeCounts(df: org.apache.spark.sql.DataFrame) = {
    df.select(col("doc_id"),
        explode(call_function("graft_char_trigrams", col("text"))).as("tg"))
      .select(col("doc_id"), col("tg.g").as("g"), col("tg.n").as("n"))
  }

  test("native one-pass trigram counts == built-in chain on the real corpus") {
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
      1L -> "abc",                     // minimal trigram
      2L -> "ab",                      // sub-trigram -> empty
      3L -> "",                        // empty
      4L -> "!!!",                     // all stripped -> empty
      5L -> "a!b?c",                   // strip JOINS neighbors: "abc"
      6L -> "A B",                     // ASCII lowering + space trigram
      7L -> "aKbc",               // Kelvin sign lowers to 'k': "akbc"
      8L -> "café bar",           // é stripped, neighbors join
      9L -> "Über maß",      // Ü->ü stripped; ß stripped
      10L -> "  a  ",                  // runs of spaces kept (space is in-alphabet)
      11L -> ("x" * 5000 + "y"))       // long run: count 4998 on one key
    val df = rows.toDF("doc_id", "text")
    val a = builtinCounts(df).orderBy("doc_id", "g").collect()
    val b = nativeCounts(df).orderBy("doc_id", "g").collect()
    assert(a === b)
  }
}
