package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The HLL sketch must (a) be invariant to partitioning (registers merge
  * element-wise-max — any split of the input yields the same register
  * array, hence the same (zeros, ssum) summary), (b) ignore duplicates
  * and nulls by construction, and (c) estimate within the theoretical
  * error band (~1.04/√m ≈ 6.5% at m=256) across the linear-counting and
  * raw-estimator regimes. (a) and (b) are what the x21 oracle replay
  * relies on; (c) is what makes 256 bytes a usable count_distinct swap
  * at 100 TB.
  */
class HllDistinctSpec extends SparkSpec {
  import spark.implicits._

  private val m = 256
  private val two53 = 9.007199254740992e15

  private def sketch(ids: Seq[Long], parts: Int) = {
    ids.toDF("id").repartition(parts)
      .agg(expr("graft_hll(graft_md5p60(CAST(id AS STRING)), 8)").as("sk"))
      .select(col("sk.zeros"), col("sk.ssum"))
      .head()
  }

  private def estimate(zeros: Int, ssum: Long): Double = {
    val raw = 0.7213 / (1.0 + 1.079 / m) * (m.toDouble * m) / (ssum / two53)
    if (zeros > 0 && raw <= 2.5 * m) m * math.log(m.toDouble / zeros) else raw
  }

  test("partitioning-invariant: 1-partition and 7-partition sketches identical") {
    val ids = (1L to 5000L) ++ (1L to 1000L) // duplicates must not matter
    val a = sketch(ids, 1)
    val b = sketch(ids, 7)
    assert(a == b, s"sketch diverged across partitionings: $a vs $b")
  }

  test("estimate within the HLL error band across regimes") {
    // n=100 exercises linear counting, n=50000 the raw estimator
    for (n <- Seq(100, 5000, 50000)) {
      val r = sketch(1L to n.toLong, 8)
      val est = estimate(r.getInt(0), r.getLong(1))
      // standard error 1.04/sqrt(256) ~ 6.5%; 3-sigma band
      assert(math.abs(est - n) / n < 0.20, s"n=$n estimated $est")
    }
  }

  test("empty registers for all-null input: zeros = m, ssum = m * 2^53") {
    val r = Seq(Option.empty[String], Option.empty[String]).toDF("s")
      .agg(expr("graft_hll(graft_md5p60(s), 8)").as("sk"))
      .select(col("sk.zeros"), col("sk.ssum")).head()
    assert(r.getInt(0) == m)
    assert(r.getLong(1) == m.toLong * (1L << 53))
  }

  test("register summary matches a driver-side replay of the same hashes") {
    val ids = 1L to 2000L
    val regs = new Array[Int](m)
    ids.foreach { i =>
      val h = Md5Prefix60.hash60(i.toString.getBytes("UTF-8"))
      val bucket = (h >>> 52).toInt
      val w = h & ((1L << 52) - 1)
      val rank = if (w == 0L) 53 else 52 - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (rank > regs(bucket)) regs(bucket) = rank
    }
    val zeros = regs.count(_ == 0)
    val ssum = regs.map(r => 1L << (53 - r)).sum
    val got = sketch(ids, 4)
    assert(got.getInt(0) == zeros && got.getLong(1) == ssum,
      s"engine (${got.getInt(0)}, ${got.getLong(1)}) vs replay ($zeros, $ssum)")
  }
}
