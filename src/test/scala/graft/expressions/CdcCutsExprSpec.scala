package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins graft_cdc_cuts three ways:
  *   - the O(n) rolling implementation equals an independent O(n·W)
  *     per-window SUM evaluation (the form the DuckDB oracle replays);
  *   - boundary resynchronization: editing a prefix only changes cuts
  *     near the edit — downstream cuts realign (the property that makes
  *     CDC chunks near-dup-stable where fixed windows are not);
  *   - codegen and interpreted paths agree.
  */
class CdcCutsExprSpec extends SparkSpec {
  import CdcCutsExpr.{B, D, P, W}

  /** Independent reference: per-window sum over code points, no rolling
    * state.
    */
  private def sumCuts(s: String): Seq[Int] = {
    val cp = s.codePoints().toArray
    (W to cp.length).filter { i =>
      val h = (0 until W).map { j =>
        cp(i - 1 - j).toLong * CdcCutsExpr.Pows(j) % P
      }.sum % P
      h % D == 0
    }
  }

  private def exprCuts(texts: Seq[String]): Seq[Seq[Int]] = {
    import spark.implicits._
    texts.toDF("t").select(expr("graft_cdc_cuts(t)")).collect()
      .map(_.getSeq[Int](0).toList).toSeq
  }

  test("rolling implementation equals the per-window sum form") {
    val rnd = new scala.util.Random(13)
    val samples = (1 to 60).map { i =>
      (0 until i * 7).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
    }
    val texts = samples ++ Seq("", "short", "x" * 7, "y" * 8, "z" * 2000)
    val got = exprCuts(texts)
    texts.zip(got).foreach { case (t, cuts) =>
      assert(cuts == sumCuts(t), s"text of length ${t.length}")
    }
  }

  test("cuts resynchronize after an edit (the anti-fixed-stride property)") {
    val rnd = new scala.util.Random(42)
    val doc = (1 to 4000).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
    val edited = doc.substring(0, 100) + "INSERTED!" + doc.substring(100)
    val Seq(c1, c2) = exprCuts(Seq(doc, edited))
    assert(c1.nonEmpty, "expected cuts in a 4000-char doc")
    // every original cut past the edit zone reappears shifted by the
    // insertion length (local content unchanged => same window hashes)
    val shift = 9
    val after1 = c1.filter(_ > 100 + W).toSet
    val after2 = c2.filter(_ > 100 + shift + W).map(_ - shift).toSet
    assert(after1 == after2,
      "cuts after the edit must realign exactly (shifted by the insertion)")
  }

  test("non-ASCII text: cuts are code-point positions, chunks reassemble") {
    // multibyte chars (2-byte é, 3-byte 個, 4-byte surrogate-pair emoji):
    // cuts must index the same unit substring does, so slicing by them
    // loses nothing
    val rnd = new scala.util.Random(7)
    val alphabet = "abcé個💡xyz .,"
    // build by code points so surrogate pairs never split
    val cpAlphabet = alphabet.codePoints().toArray
    val doc = new StringBuilder
    (1 to 3000).foreach(_ => doc.appendAll(Character.toChars(
      cpAlphabet(rnd.nextInt(cpAlphabet.length)))))
    val text = doc.toString
    val cuts = exprCuts(Seq(text)).head
    assert(cuts == sumCuts(text), "rolling == sum form on multibyte text")
    assert(cuts.nonEmpty, "expected cuts in a 3000-code-point doc")
    // reassembling the chunks cut at code-point offsets restores the doc
    val cpText = text.codePoints().toArray
    val bounds = 0 +: cuts :+ cpText.length
    val rebuilt = bounds.zip(bounds.tail).map { case (a, b) =>
      new String(cpText, a, b - a)
    }.mkString
    assert(rebuilt == text, "chunks must cover the doc exactly")
  }

  test("codegen and interpreted agree") {
    val texts = Seq("the quick brown fox jumps over the lazy dog" * 20)
    val viaExpr = exprCuts(texts).head
    val interpreted = CdcCutsExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(texts.head)))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq
    assert(viaExpr == interpreted)
    assert(viaExpr == sumCuts(texts.head))
  }
}
