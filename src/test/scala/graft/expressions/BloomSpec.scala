package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Bloom pair must (a) never produce a false NEGATIVE (every
  * inserted item probes true — the property decontamination relies on:
  * a contaminated doc can never slip through), (b) be invariant to
  * partitioning (merge is bitwise OR — any split of the input builds
  * the same bitset), and (c) agree with an independent Scala model of
  * the (h1 + i·h2) mod m position arithmetic, which is also what the
  * p14 DuckDB oracle replays.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val M = 1L << 12
  private val K = 3

  private def h60(s: String): Long = Md5Prefix60.hash60(s.getBytes("UTF-8"))
  private def h2of(s: String): Long = h60("#" + s)

  private def buildBits(items: Seq[String], parts: Int): Array[Byte] = {
    items.toDF("g").repartition(parts)
      .select(call_function("graft_md5p60", col("g")).as("h1"),
        call_function("graft_md5p60", concat(lit("#"), col("g"))).as("h2"))
      .agg(expr(s"graft_bloom(h1, h2, $M, $K)").as("bits"))
      .head().getAs[Array[Byte]](0)
  }

  /** Independent model: the set of bit positions the filter should hold. */
  private def modelPositions(items: Seq[String]): Set[Long] =
    items.flatMap(s => (0 until K).map(i => (h60(s) + i * h2of(s)) % M)).toSet

  private def modelContains(pos: Set[Long], s: String): Boolean =
    (0 until K).forall(i => pos.contains((h60(s) + i * h2of(s)) % M))

  test("no false negatives, any partitioning") {
    val items = (1 to 500).map(i => s"gram-$i")
    for (parts <- Seq(1, 7)) {
      val bits = buildBits(items, parts)
      assert(bits.length == (M / 8).toInt)
      items.foreach { s =>
        assert(BloomBits.contains(bits, h60(s), h2of(s), M, K),
          s"false negative for $s at parts=$parts")
      }
    }
  }

  test("bitset and probe agree with the independent position model") {
    val items = (1 to 300).map(i => s"in-$i")
    val bits = buildBits(items, 5)
    val pos = modelPositions(items)
    // every set bit in the filter is a modeled position and vice versa
    val setBits = (0L until M).filter(p =>
      (bits((p >>> 3).toInt) & (1 << (p & 7).toInt)) != 0).toSet
    assert(setBits == pos)
    // probe verdicts match the model for non-members too (false
    // positives included — they are part of the contract p14 measures)
    (1 to 300).map(i => s"out-$i").foreach { s =>
      val viaExpr = spark.range(1).select(
        BloomSpecHelper.containsCol(bits, s)).head().getBoolean(0)
      assert(viaExpr == modelContains(pos, s), s"probe mismatch for $s")
      assert(BloomBits.contains(bits, h60(s), h2of(s), M, K) == modelContains(pos, s))
    }
  }

  test("empty filter rejects everything") {
    val bits = buildBits(Seq.empty[String], 1)
    assert(!BloomBits.contains(bits, h60("x"), h2of("x"), M, K))
  }
}

private object BloomSpecHelper {
  /** Probe through the registered SQL function (codegen path). */
  def containsCol(bits: Array[Byte], s: String) = {
    expr(s"graft_bloom_contains(X'${bits.map("%02x".format(_)).mkString}', " +
      s"graft_md5p60('$s'), graft_md5p60('#$s'), 4096, 3)")
  }
}
