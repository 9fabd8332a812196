package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.functions.TextFns.h60
import graft.functions.VecFns._

/** Deterministic distributed spherical k-means (Lloyd's) — a REAL learned
  * coarse quantizer for the embedding column, replacing the synthetic
  * `label` attribute the IVF/SemDeDup rows used as a stand-in (measured
  * weak: s10 recall@3 0.53 even at nprobe=4; ~90% of cosine≥0.4 pairs
  * cross labels — ADVICE r04 asked for a quantizer derived from the
  * vectors themselves).
  *
  * Every step is engine-mirrorable, so a TRAINED model can sit under the
  * DuckDB oracle (the "k-means is iteration-order-dependent and
  * unmirrorable" objection applies to resumable/online variants, not to
  * fixed-iteration batch Lloyd's with exact-order reductions):
  *   - seeds: the k vectors with the smallest (h60(vec_id), vec_id) — a
  *     deterministic pseudo-random draw, TakeOrdered(k) not a global sort;
  *   - assignment: argmax_c dot(e, c) with the sequential fold (graft_dot)
  *     both engines share; ties (never observed, rule pinned anyway) keep
  *     the lowest cid;
  *   - update: elementwise DECIMAL(28,9) sums / count (the s03 centroid
  *     trick — order-independent, bit-exact; one `graft_vec_mean`
  *     aggregate adds the 9-decimal values as longs), then L2-normalized
  *     (spherical k-means: unnormalized means would bias the argmax
  *     toward long centroids); an emptied cluster keeps its previous
  *     centroid;
  *   - fixed iteration count, unrolled — the oracle replays each round as
  *     one CTE layer ([[sqlFitCtes]] generates them from the same
  *     constants).
  *
  * Scale shape per iteration: the centroid table (k×dim doubles) rides a
  * 1-ROW broadcast; assignment is a PURE PROJECTION (the argmax folds
  * over the broadcast list — no explode, no per-vector×centroid shuffle);
  * the update is ONE cid-keyed aggregate with map-side partials. At
  * 100 TB the fit runs on a sample (the d13 tune-on-sample pattern) and
  * the one extra full-corpus pass is the final [[assign]].
  */
object KMeans {

  /** Deterministic seed centroids, held on the driver: cid ∈ 1..k in
    * (h60(vec_id), vec_id) order. `v` must carry (vec_id, e) with e
    * L2-normalized. The pick is TakeOrderedAndProject (top-k, no global
    * sort) and the k rows are collected; fewer than k vectors give fewer
    * seeds, no vectors none.
    */
  def seeds(v: DataFrame, k: Int): IndexedSeq[(Int, Array[Double])] =
    v.select(col("vec_id"), col("e"), h60(col("vec_id").cast(StringType)).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select(col("e"))
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Double](0).toArray) }

  /** Assignment as a pure projection: collect the k centroid rows (the
    * sanctioned bounded collect — k×dim doubles, a few KB) and delegate
    * to [[assignLit]]. No shuffle, no exchange at all: the centroid
    * list rides as a one-row broadcast LocalRelation. Output:
    * (vec_id, e, cid).
    */
  def assign(v: DataFrame, cent: DataFrame): DataFrame = {
    val cents = cent.select(col("cid").cast("int"), col("c")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
    assignLit(v, cents)
  }

  /** Assignment against DRIVER-HELD centroids. The cid-ascending
    * centroid list rides as a ONE-ROW broadcast LocalRelation (k×dim
    * doubles — a few KB), so the generated code is IDENTICAL across
    * rounds/sessions (whole-stage-codegen cache hit; the former
    * plan-literal form recompiled ~0.5 s of codegen per Lloyd's round
    * because each round's literals produced new source). The argmax is
    * a STATICALLY UNROLLED `greatest` over the k (dot, -position)
    * structs — pure codegen'd built-ins, replacing the interpreted
    * `aggregate` higher-order-function fold (CodegenFallback).
    * Arithmetic is identical: same graft_dot per (centroid, vector) in
    * the same cid order; `greatest` on (d, -pos) picks the highest dot
    * and breaks ties toward the lowest cid — exactly the old fold's
    * strict `>` keep-first rule (positions are cid-ascending).
    */
  def assignLit(v: DataFrame, cents: Seq[(Int, Array[Double])]): DataFrame =
    if (cents.isEmpty) // no centroids: no vector is assigned
      v.select(col("vec_id"), col("e"), lit(null).cast(IntegerType).as("cid")).where(lit(false))
    else {
      val spark = v.sparkSession
      import spark.implicits._
      val sorted = cents.sortBy(_._1)
      val k = sorted.length
      val centsDF = Seq(sorted.map { case (cid, c) => (cid, c.toSeq) })
        .toDF("cents") // one row: array<struct<_1: cid, _2: c>>
      val cc = col("cents")
      def scored(i: Int) = {
        val x = element_at(cc, i)
        struct(dotSeq(x("_2"), col("e")).as("d"), lit(-i).as("m"))
      }
      val best =
        if (k == 1) scored(1)
        else greatest((1 to k).map(scored): _*)
      v.crossJoin(broadcast(centsDF))
        .select(col("vec_id"), col("e"),
          element_at(cc, -best("m"))("_1").as("cid"))
    }

  /** `iters` rounds of Lloyd's from the deterministic [[seeds]]. Returns
    * the trained centroids (cid, c) as a local relation; no vectors give
    * no centroids.
    *
    * Each round is ONE job: the [[assignLit]] projection into one
    * cid-keyed `graft_vec_mean` aggregate (a long[dim + 1] buffer per
    * cluster, VecMeanAgg), whose ≤ k result rows are collected and
    * normalized into the next round's centroids ON THE DRIVER (k×dim
    * values — the sanctioned bounded-collect pattern; at k=8, dim=64
    * that is 4 KB). The mean is exactly the oracle's
    * `CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*)` (long
    * sums commute: partition-invariant), and the normalize mirrors
    * L2NormalizeD's fold (Σx² left-to-right, sqrt, divide) —
    * KMeansSpec pins fit/assign equality and the oracle replays the
    * same rounds.
    */
  def fit(v: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = seeds(v, k)
    for (_ <- 0 until iters) {
      val upd = assignLit(v, cents)
        .groupBy("cid")
        .agg(vecMean(col("e")))
        .collect()
        .map { r =>
          val mean = r.getSeq[Double](1).toArray
          // L2NormalizeD's exact fold: Σx² left-to-right, sqrt, divide
          var ss = 0.0
          var i = 0
          while (i < mean.length) { ss += mean(i) * mean(i); i += 1 }
          val norm = math.sqrt(ss)
          (r.getInt(0), mean.map(_ / norm))
        }.toMap
      // an emptied cluster keeps its previous centroid
      cents = cents.map { case (cid, prev) => (cid, upd.getOrElse(cid, prev)) }
    }
    val spark = v.sparkSession
    import spark.implicits._
    cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cid", "c")
  }

  // ---------------------------------------------------------------- SQL

  /** h60(vec_id) in DuckDB — the seed-draw hash. */
  private val sqlSeedHash =
    "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** DuckDB CTE layers replaying [[fit]] + [[assign]] against a CTE `v`
    * with columns (vec_id, e). Emits `cent0..cent$iters` and the final
    * full-corpus assignment `akm(vec_id, cid)` against `cent$iters`.
    * Append after an existing WITH list (leading comma included by the
    * caller).
    */
  def sqlFitCtes(k: Int, iters: Int, dim: Int): String = {
    def asgLayer(name: String, centName: String): String = {
      val dot = sqlDotSeqN("vv.e", "c.c", dim)
      s"""$name AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vv.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY vv.vec_id ORDER BY $dot DESC, c.cid) AS rn
         |    FROM v vv, $centName c) WHERE rn = 1)""".stripMargin
    }
    val seedsCte =
      s"""seedr AS (
         |  SELECT vec_id, e, $sqlSeedHash AS h FROM v ORDER BY h, vec_id LIMIT $k),
         |cent0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) AS INT) AS cid, e AS c
         |  FROM seedr)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val normMean = sqlL2NormalizeN("m.m", dim)
      s"""${asgLayer(s"asg$i", s"cent${i - 1}")},
         |cm$i AS (
         |  SELECT a.cid, idx.i AS pos,
         |    CAST(SUM(CAST(vv.e[idx.i] AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
         |  FROM asg$i a, v vv, (SELECT unnest(range(1, $dim + 1)) AS i) idx
         |  WHERE a.vec_id = vv.vec_id
         |  GROUP BY a.cid, idx.i),
         |cl$i AS (SELECT cid, list(cx ORDER BY pos) AS m FROM cm$i GROUP BY cid),
         |cent$i AS (
         |  SELECT p.cid, COALESCE($normMean, p.c) AS c
         |  FROM cent${i - 1} p LEFT JOIN cl$i m USING (cid))""".stripMargin
    }
    (Seq(seedsCte) ++ rounds :+ asgLayer("akm", s"cent$iters")).mkString(",\n")
  }
}
