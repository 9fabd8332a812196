package graft.ops

import org.apache.spark.sql.AnalysisException

import graft.SparkSpec

/** The fixed-point PageRank must (a) hit the closed-form fixpoint on a
  * regular graph (uniform rank is invariant — every integer step maps
  * it to itself exactly), (b) be bit-identical across partitionings
  * (long sums commute; that is the whole point of the integer
  * contract), (c) match an independent driver-side replay of the same
  * integer recurrence on an irregular graph, (d) rank a hub above
  * its spokes, (e) return no ranks for no edges, and (f) rank every
  * node 0 for an empty seed set, as the DuckDB mirror does. No run, not
  * even a failing one, leaves a frame persisted.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int, parts: Int = 4): Map[Long, Long] =
    PageRank.run(edges.toDF("src", "dst").repartition(parts), iters, Scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("uniform rank is the exact fixpoint on a regular graph (4-ring)") {
    // undirected ring: every node has outdeg 2; scale/4 is even, so
    // rank div 2 loses nothing and uniform rank reproduces exactly
    val ring = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L)
    val edges = ring ++ ring.map(_.swap)
    val got = ranksOf(edges, 5)
    assert(got.values.toSet == Set(Scale / 4),
      s"regular graph must stay uniform at scale/N, got $got")
  }

  test("bit-identical across partitionings") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val e2 = edges ++ edges.map(_.swap)
    assert(ranksOf(e2, 4, parts = 1) == ranksOf(e2, 4, parts = 9))
  }

  test("matches a driver-side replay of the integer recurrence") {
    val rnd = new scala.util.Random(13)
    val dir = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2)
    val edges = dir ++ dir.map(_.swap) // parallel duplicates intentional
    val outdeg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val n = outdeg.size.toLong
    var rank = outdeg.map { case (node, _) => node -> Scale / n }
    val teleport = ((100 - 85) * (Scale / n)) / 100
    for (_ <- 1 to 3) {
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
      }
      rank = rank.map { case (node, _) =>
        node -> (teleport + (85 * inflow.getOrElse(node, 0L)) / 100)
      }
    }
    assert(ranksOf(edges, 3) == rank)
  }

  private def pprOf(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
      parts: Int = 4): Map[Long, Long] =
    PageRank.runPersonalized(edges.toDF("src", "dst").repartition(parts),
        seeds.toDF("node"), iters, Scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalized: matches a driver-side replay with a 2-seed set") {
    val rnd = new scala.util.Random(31)
    val dir = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2)
    val edges = dir ++ dir.map(_.swap)
    val seeds = Seq(0L, 3L)
    val outdeg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val share = Scale / seeds.size
    var rank = outdeg.map { case (node, _) =>
      node -> (if (seeds.contains(node)) share else 0L)
    }
    for (_ <- 1 to 3) {
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / outdeg(src) }.sum
      }
      rank = rank.map { case (node, _) =>
        val tp = if (seeds.contains(node)) ((100 - 85) * share) / 100 else 0L
        node -> (tp + (85 * inflow.getOrElse(node, 0L)) / 100)
      }
    }
    assert(pprOf(edges, seeds, 3) == rank)
    assert(pprOf(edges, seeds, 3, parts = 1) == pprOf(edges, seeds, 3, parts = 9))
  }

  test("personalized: rank decays with distance from the seed on a path") {
    val path = (0L until 7L).map(k => (k, k + 1))
    val edges = path ++ path.map(_.swap)
    val got = pprOf(edges, Seq(0L), 5)
    // strictly closer-to-seed nodes accumulate at least as much rank,
    // and the seed strictly dominates anything ≥ 2 hops out
    assert(got(0L) > got(2L) && got(1L) > got(3L) && got(2L) > got(4L),
      s"proximity decay violated: $got")
    // uniform PageRank on the same graph has no such decay (interior
    // path nodes outrank the degree-1 seed end) — the contrast PPR exists for
    val uni = ranksOf(edges, 5)
    assert(uni(0L) < uni(3L), s"uniform PR should not favor the end node: $uni")
  }

  test("empty edge list: empty ranks, edge list released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = PageRank.run(Seq.empty[(Long, Long)].toDF("src", "dst"), 3, Scale)
    assert(got.columns.toSeq == Seq("node", "rank"))
    assert(got.collect().isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the persisted edge list must be released")
  }

  test("hub outranks spokes on a star graph") {
    val spokes = (1L to 12L).map(k => (0L, k))
    val edges = spokes ++ spokes.map(_.swap)
    val got = ranksOf(edges, 5)
    assert((1L to 12L).forall(k => got(0L) > got(k)),
      s"hub must dominate: $got")
  }

  test("personalized: an empty seed set ranks every out-edge node 0, leaving nothing persisted") {
    // the DuckDB mirror's `scale // 0` is NULL inside a CASE branch no
    // node takes, so every node ranks 0
    val edges = Seq(0L -> 1L, 1L -> 2L, 2L -> 0L, 3L -> 0L)
    val (got, left) = leftPersisted(pprOf(edges, Seq.empty, 3))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }

  test("personalized: a round that throws leaves nothing persisted") {
    val edges = Seq(0L -> 1L, 1L -> 0L).toDF("src", "dst")
    // no `node` column: the seed frame fails analysis after the edge
    // list is persisted and counted
    val (_, left) = leftPersisted(intercept[AnalysisException](
      PageRank.runPersonalized(edges, Seq(0L).toDF("id"), 3, Scale)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
