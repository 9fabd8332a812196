package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed single-source(-set) shortest paths over a WEIGHTED
  * directed edge list — the weighted member of the iterative-graph
  * family ([[Bfs]] is its unit-weight special case). Corpus use: graph
  * proximity where edges carry strength (co-citation counts, trade
  * volume, link trust) — "cheapest path to a curated seed" as a quality
  * prior, where a strong tie should cost less than a weak one.
  *
  * Arithmetic contract: pure integer min-plus relaxation (long dist =
  * sum of long weights), so results are bit-exact under any
  * partitioning and [[sqlCtes]] replays the rounds in DuckDB.
  *
  * Unlike BFS, a labeled node's distance CAN improve after it is first
  * reached (a longer-hop path may be cheaper), so frontier-only
  * expansion keys on IMPROVEMENT, not first touch: round k relaxes the
  * edges of exactly the nodes whose distance changed in round k−1 —
  * the queue-based Bellman-Ford optimization. The state after round k
  * still equals full Bellman-Ford's (min over paths of ≤ k edges):
  * whenever a node improves it rejoins the frontier and re-propagates,
  * which is the induction the oracle's full-relaxation layers rely on
  * (SsspSpec pins the two formulations equal on random graphs). When a
  * round improves nothing the fixpoint is reached and the loop exits —
  * the oracle's remaining layers are then no-ops, so fixed-round replay
  * and early-stopped execution agree.
  *
  * Scale shape: edges persisted src-partitioned once; each round is one
  * frontier⋈edges equi-join + one node-keyed min aggregation (map-side
  * partial min) + the improvement anti-filter, lineage truncated per
  * round (O(1) plan). The convergence check is a driver-side count on
  * the checkpointed frontier — node-bounded, never corpus-bounded.
  */
object Sssp {

  /** @param edges   directed (src: long, dst: long, w: long), w >= 0;
    *                pass both orientations for an undirected graph.
    * @param sources (node: long) seed rows, distance 0.
    * @param maxRounds relaxation-round bound (≥ graph diameter in EDGES
    *                of the cheapest paths for exact convergence; the
    *                loop exits early at the fixpoint).
    * @return (node, dist) for every node reachable within maxRounds
    *         relaxations of a seed.
    */
  def run(edges: DataFrame, sources: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    IterConf.roundLoop(
        edges.select(col("src"), col("dst"), col("w")).repartition(col("src"))) { (e, _) =>
      var dist = sources.select(col("node"), lit(0L).as("dist"))
        .localCheckpoint()
      var frontier = dist
      var round = 0
      var improving = true
      while (improving && round < maxRounds) {
        round += 1
        val cand = frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = dist.unionAll(cand)
          .groupBy("node").agg(min("dist").as("dist"))
          .localCheckpoint()
        frontier = next
          .join(dist.withColumnRenamed("dist", "old"), Seq("node"), "left")
          .filter(col("old").isNull || col("dist") < col("old"))
          .select("node", "dist")
          .localCheckpoint()
        dist = next
        improving = frontier.limit(1).count() > 0
      }
      dist
    }
  }

  /** DuckDB mirror of [[run]] as unrolled FULL-relaxation CTE layers
    * (plain UNION ALL + GROUP BY min — same fixpoint per round as the
    * frontier engine). Every layer is MATERIALIZED: s_{k−1} is
    * referenced twice by layer k, and DuckDB inlines plain CTEs per
    * reference — 2^rounds expansions of the whole prefix (the KCore
    * 3^rounds lesson; measured here: the 10-round plain form never
    * finished at sf0.1, the materialized form runs in seconds).
    * Callers splice `WITH $sqlCtes` in front of a SELECT over `sssp`
    * (node, dist). `edgesCte` must yield (src, dst, w); `sourcesCte`
    * must yield (node).
    */
  def sqlCtes(edgesCte: String, sourcesCte: String, maxRounds: Int): String = {
    val layers = (1 to maxRounds).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM s${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, b.dist + e.w AS dist
         |    FROM edges e JOIN s${k - 1} b ON e.src = b.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED ($edgesCte),
       |srcs AS ($sourcesCte),
       |s0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM srcs),
       |$layers,
       |sssp AS (SELECT node, dist FROM s$maxRounds)""".stripMargin
  }
}
