package graft.ops

import org.apache.spark.sql.AnalysisException

import graft.SparkSpec

/** Weighted min-plus SSSP must (a) prefer a cheaper many-hop path over
  * an expensive direct edge (the case BFS cannot represent), (b) match
  * a driver-side full Bellman-Ford replay on random weighted graphs —
  * pinning frontier-only relaxation == full relaxation per round, the
  * equivalence the DuckDB oracle layers rely on, (c) be bit-identical
  * across partitionings, and (d) stop early at the fixpoint without
  * changing the answer.
  */
class SsspSpec extends SparkSpec {
  import spark.implicits._

  private def distsOf(
      edges: Seq[(Long, Long, Long)], sources: Seq[Long], rounds: Int,
      parts: Int = 4): Map[Long, Long] = {
    val und = edges ++ edges.map { case (s, d, w) => (d, s, w) }
    Sssp.run(und.toDF("src", "dst", "w").repartition(parts),
        sources.toDF("node"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def replay(
      edges: Seq[(Long, Long, Long)], sources: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    val und = edges ++ edges.map { case (s, d, w) => (d, s, w) }
    var dist = sources.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val cand = und.flatMap { case (s, d, w) => dist.get(s).map(ds => d -> (ds + w)) }
      dist = (dist.toSeq ++ cand).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist
  }

  test("a cheap 3-hop path beats an expensive direct edge") {
    // 0->4 direct costs 10; 0->1->2->4 costs 3; island 99-98 unreachable
    val edges = Seq((0L, 4L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 4L, 1L),
      (99L, 98L, 1L))
    val got = distsOf(edges, Seq(0L), 5)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 4L -> 3L), s"got $got")
  }

  test("matches a driver-side full Bellman-Ford replay (multi-source, random weights)") {
    val rnd = new scala.util.Random(53)
    val edges = Seq.fill(250)(
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, 1L + rnd.nextInt(5)))
      .filter(e => e._1 != e._2)
    val sources = Seq(2L, 11L)
    // 8 rounds: enough for the fixpoint on a 30-node graph with these
    // densities; the engine may early-stop — the replay may not, which
    // is exactly the equivalence under test
    assert(distsOf(edges, sources, 8) == replay(edges, sources, 8))
  }

  test("bit-identical across partitionings") {
    val rnd = new scala.util.Random(67)
    val edges = Seq.fill(200)(
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, 1L + rnd.nextInt(4)))
      .filter(e => e._1 != e._2)
    assert(distsOf(edges, Seq(0L), 6, parts = 1) ==
      distsOf(edges, Seq(0L), 6, parts = 9))
  }

  test("early stop at the fixpoint: extra rounds change nothing") {
    val edges = Seq((0L, 1L, 2L), (1L, 2L, 2L), (2L, 3L, 2L))
    assert(distsOf(edges, Seq(0L), 4) == distsOf(edges, Seq(0L), 20))
  }

  test("a round that throws leaves nothing persisted") {
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L)).toDF("src", "dst", "w")
    // no `node` column: the seed frame fails analysis after the edge
    // list is persisted and counted
    val (_, left) = leftPersisted(
      intercept[AnalysisException](Sssp.run(edges, Seq(0L).toDF("id"), 3)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
