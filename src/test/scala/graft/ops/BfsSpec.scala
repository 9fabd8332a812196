package graft.ops

import org.apache.spark.sql.AnalysisException

import graft.SparkSpec

/** The min-plus BFS must (a) produce exact hop distances on a known
  * graph with unreachable nodes absent, (b) be bit-identical across
  * partitionings, (c) match a driver-side replay of the relaxation on a
  * random multi-source graph, and (d) keep distances monotone
  * non-increasing when hops increase (more rounds can only improve).
  */
class BfsSpec extends SparkSpec {
  import spark.implicits._

  private def distsOf(
      edges: Seq[(Long, Long)], sources: Seq[Long], hops: Int,
      parts: Int = 4): Map[Long, Long] = {
    val und = edges ++ edges.map(_.swap)
    Bfs.run(und.toDF("src", "dst").repartition(parts),
        sources.toDF("node"), hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("exact hop distances on a path + branch; unreachable nodes absent") {
    // 0-1-2-3-4 path, branch 2-10, island 99-98
    val edges = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 10L, 99L -> 98L)
    val got = distsOf(edges, Seq(0L), 6)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 10L -> 3L),
      s"got $got")
  }

  test("bit-identical across partitionings") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(300)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2)
    assert(distsOf(edges, Seq(0L, 1L), 4, parts = 1) ==
      distsOf(edges, Seq(0L, 1L), 4, parts = 9))
  }

  test("matches a driver-side replay of the relaxation (multi-source)") {
    val rnd = new scala.util.Random(31)
    val dir = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val und = dir ++ dir.map(_.swap)
    val sources = Seq(3L, 7L)
    var dist = sources.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val cand = und.flatMap { case (s, d) => dist.get(s).map(d -> _) }
        .map { case (n, dd) => n -> (dd + 1) }
      dist = (dist.toSeq ++ cand).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    assert(distsOf(dir, sources, 4) == dist)
  }

  test("more hops never increase a distance, only add nodes") {
    val rnd = new scala.util.Random(41)
    val edges = Seq.fill(80)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val d2 = distsOf(edges, Seq(0L), 2)
    val d5 = distsOf(edges, Seq(0L), 5)
    assert(d2.keySet.subsetOf(d5.keySet))
    d2.foreach { case (n, d) => assert(d5(n) <= d, s"node $n: ${d5(n)} > $d") }
  }

  test("a round that throws leaves nothing persisted") {
    val edges = Seq(0L -> 1L, 1L -> 2L).toDF("src", "dst")
    // no `node` column: the seed frame fails analysis after the edge
    // list is persisted and counted
    val (_, left) = leftPersisted(
      intercept[AnalysisException](Bfs.run(edges, Seq(0L).toDF("id"), 3)))
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
