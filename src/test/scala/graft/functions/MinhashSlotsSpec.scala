package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.Md5Prefix60
import graft.functions.TextFns._

/** The per-row expression signature (minhashSlots — the streaming path)
  * must equal the batch aggregate signature math slot for slot, and both
  * must equal an independent Scala reimplementation from the raw
  * constants — otherwise streaming dedupNearStream and batch d02/d03
  * would disagree about which docs are near-duplicates.
  */
class MinhashSlotsSpec extends SparkSpec {
  import spark.implicits._

  private def scalaSlots(text: String): Seq[Option[Long]] = {
    val toks = text.split(" ", -1).toSeq
    val grams = (0 until math.max(toks.length - 2, 0))
      .map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").distinct
    val hms = grams.map(g => Md5Prefix60.hash60(g.getBytes("UTF-8")) % MinhashP)
    (0 until MinhashK).map { k =>
      if (hms.isEmpty) None
      else Some(hms.map(h => (MinhashA(k) * h + MinhashB(k)) % MinhashP).min)
    }
  }

  test("expression slots == independent Scala slots (incl. short docs)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two three",
      "too short",
      "",
      "a b c a b c a b c",
      (1 to 200).map(i => s"w$i").mkString(" "))
    val df = texts.toDF("text")
      .withColumn("hms",
        transform(array_distinct(grams3(tokens(col("text")))),
          g => h60(g) % lit(MinhashP)))
      .select(col("text"), minhashSlots(col("hms")).as("slots"))
    val got = df.collect().map(r =>
      r.getString(0) -> r.getSeq[Any](1).map(Option(_).map(_.asInstanceOf[Long]))).toMap
    texts.foreach { t =>
      assert(got(t) == scalaSlots(t), s"slot mismatch for '${t.take(30)}'")
    }
  }

  test("native fused expression == built-in composition on random hash arrays") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 200).map { i =>
      i -> (0 until rnd.nextInt(30)).map(_ => rnd.nextLong().abs % MinhashP)
    }
    val df = rows.toDF("id", "hms")
      .select(col("id"), minhashSlots(col("hms")).as("native"),
        minhashSlotsBuiltin(col("hms")).as("builtin"))
    val bad = df.filter(
      not(col("native") <=> col("builtin"))).count()
    assert(bad == 0, "native and built-in slot signatures diverged")
  }
}
