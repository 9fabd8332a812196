package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed multi-source BFS over a directed edge list — the
  * DISTANCE member of the iterative-graph family: [[ConnectedComponents]]
  * answers "same group?", [[PageRank]] "how central?",
  * [[LabelPropagation]] "which community?", this answers "how far from
  * the seed set?". Corpus use: graph distance from a trusted / seed
  * subset (curated domains, verified documents) as a quality prior —
  * the "hops from a good node" feature web-scale curation pipelines
  * score by.
  *
  * Arithmetic contract: pure integer min-plus relaxation, so results
  * are bit-exact under any partitioning (min commutes) and [[sqlCtes]]
  * replays the rounds in DuckDB. The engine relaxes FRONTIER-ONLY:
  * with unit weights a node's distance equals the first round that
  * labels it and never improves afterwards, so round k only needs to
  * expand nodes at distance k−1 — the edge join touches the frontier,
  * not every labeled node (on a high-diameter graph the difference
  * between O(Σ frontier_k · deg) = O(m) total edge work and
  * O(rounds · m)). The oracle replays the FULL Bellman-Ford relaxation
  * per layer (plain UNION ALL + GROUP BY min), which reaches the
  * identical fixpoint after the same rounds — BfsSpec pins the two
  * formulations equal on random graphs.
  *
  * Scale shape: the edge list is persisted src-partitioned once; each
  * round is one equi-join of the label frame against it plus one
  * node-keyed min aggregation (map-side partial min), lineage truncated
  * per round — O(1) plan size for any hop bound, state bounded by node
  * cardinality. Nodes unreachable within `maxHops` carry no row.
  */
object Bfs {

  /** @param edges   directed (src: long, dst: long); pass both
    *                orientations for an undirected graph.
    * @param sources (node: long) seed rows, distance 0.
    * @return (node, dist) for every node within `maxHops` of a seed.
    */
  def run(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    IterConf.roundLoop(edges.select(col("src"), col("dst")).repartition(col("src"))) { (e, _) =>
      var labels = sources.select(col("node"), lit(0L).as("dist"))
        .localCheckpoint()
      for (k <- 1 to maxHops) {
        // frontier = nodes first labeled last round (dist = k−1); only
        // their edges can discover anything new at distance k
        val frontier = labels.filter(col("dist") === (k - 1).toLong)
        val cand = frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node"), (col("dist") + 1L).as("dist"))
        labels = labels.unionAll(cand)
          .groupBy("node").agg(min("dist").as("dist"))
          .localCheckpoint()
      }
      labels
    }
  }

  /** DuckDB mirror of [[run]] as unrolled CTE layers — callers splice
    * `WITH $sqlCtes` in front of a SELECT over `bfs` (node, dist).
    * `edgesCte` must yield (src, dst); `sourcesCte` must yield (node).
    */
  def sqlCtes(edgesCte: String, sourcesCte: String, maxHops: Int): String = {
    val layers = (1 to maxHops).map { k =>
      s"""b$k AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM b${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, b.dist + 1 AS dist
         |    FROM edges e JOIN b${k - 1} b ON e.src = b.node)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesCte),
       |srcs AS ($sourcesCte),
       |b0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM srcs),
       |$layers,
       |bfs AS (SELECT node, dist FROM b$maxHops)""".stripMargin
  }
}
