package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFns.h60
import graft.functions.VecFns._

/** Deterministic spherical k-means (ops.KMeans): the learned coarse
  * quantizer under the s11/s12/d16 rows. Pins the properties the oracle
  * replay depends on — seed draw, argmax tie rule, partition invariance
  * of the decimal centroid update, empty-cluster carry-over, the empty
  * and the non-finite input — plus a
  * clusterable-fixture sanity check and the shuffle-free assignment
  * plan shape.
  */
class KMeansSpec extends SparkSpec {

  import spark.implicits._

  /** n unit vectors in 4-d: two well-separated groups around e1 and e3,
    * with a deterministic small wobble in the off-axis coordinates.
    */
  private def fixture(n: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val w = ((i * 37) % 11) / 100.0
      val raw =
        if (i % 2 == 0) Array(1.0, w, 0.0, w / 2)
        else Array(0.0, w / 2, 1.0, w)
      (i.toLong, raw)
    }
    rows.toDF("vec_id", "raw")
      .select(col("vec_id"), l2normalize(col("raw")).as("e"))
  }

  test("seeds: k rows, cid 1..k, in (h60, vec_id) order") {
    val v = fixture(20)
    val s = KMeans.seeds(v, 5)
    assert(s.map(_._1) == (1 to 5))
    // the same draw on the driver: all (h60, vec_id) keys sorted, first 5
    val byId = v.select(col("vec_id"), col("e"), h60(col("vec_id").cast("string")))
      .as[(Long, Seq[Double], Long)].collect()
    val want = byId.sortBy(r => (r._3, r._1)).take(5).map(_._2)
    assert(s.map(_._2.toSeq) == want.toSeq)
  }

  test("no vectors: fit gives no centroids and assign no rows") {
    val v = fixture(4).where(lit(false))
    val cent = KMeans.fit(v, 3, 2)
    assert(cent.columns.toSeq == Seq("cid", "c") && cent.count() == 0)
    val asg = KMeans.assign(fixture(4), cent)
    assert(asg.columns.toSeq == Seq("vec_id", "e", "cid") && asg.count() == 0)
  }

  test("a NaN coordinate fails the fit instead of publishing a null centroid") {
    val v = (0 until 6).map(i => (i.toLong, Seq(1.0, i.toDouble, if (i == 3) Double.NaN else 0.0)))
      .toDF("vec_id", "e")
    val err = intercept[Exception](KMeans.fit(v, 2, 1))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("non-finite")), err)
  }

  test("assignment matches the explode-based argmax (lowest cid on ties)") {
    val v = fixture(30)
    val cent = KMeans.fit(v, 3, 2)
    val got = KMeans.assign(v, cent)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    // independent argmax: explode all (vector, centroid) dots, window
    val w = Window.partitionBy("vec_id").orderBy(desc("d"), col("cid"))
    val want = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), dotSeq(col("e"), col("c")).as("d"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    assert(got == want)
  }

  test("centroids are partition-invariant (decimal sums)") {
    val v = fixture(40)
    def cents(df: DataFrame): Map[Int, Seq[Double]] =
      KMeans.fit(df, 4, 3)
        .select("cid", "c").as[(Int, Seq[Double])].collect().toMap
    assert(cents(v.repartition(7)) == cents(v.repartition(1)))
  }

  test("an emptied cluster keeps its previous centroid (no null/NaN)") {
    // all vectors identical: every assignment tie-breaks to one cid, so
    // the other clusters win nothing in every round and must carry their
    // seed centroid forward
    val v = (0 until 12).map(i => (i.toLong, Array(0.5, 0.5, 0.5, 0.5)))
      .toDF("vec_id", "raw")
      .select(col("vec_id"), l2normalize(col("raw")).as("e"))
    val cent = KMeans.fit(v, 3, 2)
      .select("cid", "c").as[(Int, Seq[Double])].collect()
    assert(cent.length == 3)
    assert(cent.forall { case (_, c) => c.length == 4 && c.forall(x => !x.isNaN) })
  }

  test("k=2 on a two-group fixture recovers the groups") {
    val v = fixture(40)
    val asg = KMeans.assign(v, KMeans.fit(v, 2, 3))
      .select("vec_id", "cid").as[(Long, Int)].collect()
    val byGroup = asg.groupBy(_._1 % 2 == 0).map { case (g, xs) =>
      g -> xs.map(_._2).distinct.toSeq
    }
    // each true group maps to exactly one cluster, and the two differ
    assert(byGroup.values.forall(_.length == 1))
    assert(byGroup(true) != byGroup(false))
  }

  test("assignment never shuffles: one-row broadcast LocalRelation, no Exchange") {
    val v = fixture(30)
    val cent = KMeans.fit(v, 3, 2)
    val plan = KMeans.assign(v, cent).queryExecution.executedPlan.toString
    // r14: the centroid list rides as a one-row broadcast LocalRelation
    // (bounded k-row collect), so there is NO shuffle exchange anywhere —
    // the corpus side is a pure projection over the scan
    val n = raw"(^|[\s\-:+])Exchange ".r.findAllIn(plan).size
    assert(n == 0, s"expected no shuffle exchange in the assignment, got $n:\n${plan.take(1500)}")
    // and the argmax is codegen'd — no interpreted higher-order fold left
    assert(!plan.contains("aggregate("),
      s"interpreted HOF fold left in the assignment:\n${plan.take(1500)}")
  }
}
