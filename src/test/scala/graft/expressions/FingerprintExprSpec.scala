package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFns

/** The native byte-loop fingerprint must equal the HOF character fold
  * and an independent Scala loop on ASCII input (the corpus + oracle
  * contract) — otherwise t04 and every fingerprint consumer would
  * silently drift from the DuckDB mirror.
  */
class FingerprintExprSpec extends SparkSpec {
  import spark.implicits._

  private def scalaRoll(s: String): Long =
    s.foldLeft(0L)((acc, ch) => (acc * 31L + ch.toLong) % TextFns.FpMod)

  test("native == HOF fold == independent Scala loop on ASCII strings") {
    val rnd = new scala.util.Random(7)
    val texts = Seq("", "a", "hello world", "x" * 500) ++
      (1 to 100).map(_ => rnd.alphanumeric.take(rnd.nextInt(80)).mkString)
    val got = texts.distinct.toDF("s")
      .select(col("s"),
        TextFns.fingerprint(col("s")).as("native"),
        TextFns.fingerprintBuiltin(col("s")).as("hof"))
      .collect()
    got.foreach { r =>
      val (s, nat, hof) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(nat == hof, s"native != HOF for '${s.take(20)}'")
      assert(nat == scalaRoll(s), s"native != scala for '${s.take(20)}'")
    }
  }
}
