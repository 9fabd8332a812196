package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The KMV sketch must (a) be EXACT below its capacity, (b) be invariant
  * to partitioning (the partial/final merge is union-then-truncate — any
  * split of the input produces the same sketch), and (c) estimate within
  * the theoretical error band when capacity is exceeded. (a) and (b) are
  * what the x17 oracle relies on; (c) is the property that makes the
  * sketch usable as a count_distinct swap at 100 TB.
  */
class KmvDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(ids: Seq[Long], k: Int, parts: Int) = {
    ids.toDF("id").repartition(parts)
      .agg(expr(s"graft_kmv(graft_md5p60(CAST(id AS STRING)), $k)").as("sk"))
      .select(col("sk.held"), col("sk.kth"))
      .head()
  }

  test("exact below capacity: held = true distinct count, kth = max hash") {
    val ids = Seq(1L, 2L, 3L, 2L, 1L, 4L)
    val r = sketch(ids, 64, 3)
    assert(r.getInt(0) == 4)
    val maxHash = ids.distinct
      .map(i => Md5Prefix60.hash60(i.toString.getBytes("UTF-8"))).max
    assert(r.getLong(1) == maxHash)
  }

  test("partitioning-invariant: 1-partition and 7-partition sketches identical") {
    val ids = (1L to 5000L) ++ (1L to 1000L) // duplicates must not matter
    val a = sketch(ids, 64, 1)
    val b = sketch(ids, 64, 7)
    assert(a == b, s"sketch diverged across partitionings: $a vs $b")
  }

  test("estimate within the KMV error band over capacity") {
    val n = 5000
    val k = 64
    val r = sketch((1L to n.toLong), k, 4)
    assert(r.getInt(0) == k)
    val est = (k - 1).toDouble / (r.getLong(1).toDouble / 1.152921504606846976e18)
    // standard error ~ 1/sqrt(k-2) ~ 12.7%; 3 sigma band
    assert(math.abs(est - n) / n < 0.4, s"estimate $est too far from $n")
  }

  private def sketchSet(ids: Seq[Long], k: Int, parts: Int): Seq[Long] = {
    ids.toDF("id").repartition(parts)
      .agg(expr(s"graft_kmv_set(graft_md5p60(CAST(id AS STRING)), $k)").as("hs"))
      .head().getSeq[Long](0)
  }

  test("kmv_set: the k smallest distinct hashes, sorted, partition-invariant") {
    val ids = (1L to 500L) ++ (1L to 100L)
    val want = (1L to 500L)
      .map(i => Md5Prefix60.hash60(i.toString.getBytes("UTF-8")))
      .distinct.sorted.take(16)
    assert(sketchSet(ids, 16, 1) == want)
    assert(sketchSet(ids, 16, 7) == want, "merge must be union-then-truncate")
    // below capacity: the full distinct hash set
    val small = sketchSet(Seq(5L, 6L, 5L), 16, 3)
    assert(small.length == 2 && small == small.sorted)
  }

  test("kmv_set: k <= 0 fails with a clear argument error, not a buffer exception") {
    val e = intercept[Exception] {
      Seq(1L).toDF("id")
        .agg(expr("graft_kmv_set(graft_md5p60(CAST(id AS STRING)), 0)"))
        .head()
    }
    // the require message must surface (wrapped in Spark's exec exception),
    // never the pre-guard NoSuchElementException from buf.last on empty
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("k must be >= 1"))),
      s"expected the k >= 1 require message, got: $e")
    // a BIGINT literal past 2^31 must fail loudly, not wrap under the
    // guard (2^32+3 .toInt would be 3 — a silently smaller sketch)
    val e2 = intercept[Exception] {
      Seq(1L).toDF("id")
        .agg(expr("graft_kmv_set(graft_md5p60(CAST(id AS STRING)), 4294967299)"))
        .head()
    }
    assert(chain(e2).exists(_.isInstanceOf[ArithmeticException]),
      s"expected integer-overflow rejection for k = 2^32+3, got: $e2")
  }

  test("kth is null and held 0 when all inputs are null") {
    val r = Seq(Option.empty[String], Option.empty[String]).toDF("s")
      .agg(expr("graft_kmv(graft_md5p60(s), 8)").as("sk"))
      .select(col("sk.held"), col("sk.kth")).head()
    assert(r.getInt(0) == 0 && r.isNullAt(1))
  }
}
