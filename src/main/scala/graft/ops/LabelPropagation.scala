package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed synchronous label propagation (Raghavan et al. 2007) —
  * the community-detection member of the iterative-graph family beside
  * [[ConnectedComponents]] (reachability) and [[PageRank]] (centrality).
  * Communities are DENSITY structure: two nodes land together when the
  * vote of their neighborhoods agrees, not merely when a path exists —
  * on a corpus similarity/interaction graph this is the "topic/campaign
  * cluster" grouping that CC over-merges (one borderline pair glues two
  * topics) and that curation stages stratify samples by.
  *
  * Determinism contract (classic LPA is notoriously run-to-run
  * unstable; this variant is bit-exact and engine-mirrorable):
  *   - SYNCHRONOUS rounds: round k+1 reads only round k's labels, so
  *     there is no update-order dependence (asynchronous LPA depends on
  *     visit order, which no distributed engine can fix cheaply).
  *   - Each node votes for itself once plus once per incident edge;
  *     the winner is (max count, then MIN label) — a total order, so
  *     ties cannot flap. The self-vote also breaks the 2-cycle
  *     oscillation synchronous LPA exhibits on bipartite graphs.
  *   - FIXED round count, not convergence detection: the result is a
  *     pure function of (edges, rounds) that a DuckDB oracle replays
  *     as unrolled CTE layers ([[sqlCtes]], the ops.KMeans pattern).
  *
  * Scale shape: identical to the sibling engines — the edge list is
  * persisted src-partitioned once; each round moves only the
  * node-cardinality label frame through one equi-join plus two
  * node-keyed aggregations (map-side partial counts), and
  * localCheckpoint truncates lineage so the plan stays O(1)-sized for
  * any round count. State per round is one (node, label) row per node.
  */
object LabelPropagation {

  /** @param edges (src: long, dst: long); pass BOTH orientations for an
    *              undirected graph (the voting reads src → dst).
    *              Duplicate rows are parallel edges (extra vote weight).
    * @return (node, label) for every node appearing as a src; label is
    *         some member's node id (communities keyed by min voting
    *         dynamics, not necessarily the component min).
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    IterConf.roundLoop(edges.select(col("src"), col("dst")).repartition(col("src"))) { (e, _) =>
      var labels = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))
        .localCheckpoint()
      for (_ <- 1 to rounds) {
        val nbr = e.join(labels, e("src") === labels("node"))
          .select(e("dst").as("node"), col("label"))
        labels = nbr.unionAll(labels)
          .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
          .groupBy("node")
          // argmax by (count desc, label asc) as one max(struct): labels
          // are non-negative node ids, so negating gives the min-label
          // tie-break inside a single max aggregate (no per-node window)
          .agg(max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("label"))
          .localCheckpoint()
      }
      labels
    }
  }

  /** DuckDB mirror of [[run]] as unrolled CTE layers — callers splice
    * `WITH $sqlCtes` in front of a SELECT over `lp` (node, label).
    * `edgesCte` must yield (src, dst), both orientations.
    */
  def sqlCtes(edgesCte: String, rounds: Int): String = {
    val layers = (1 to rounds).map { k =>
      s"""v$k AS (
         |  SELECT e.dst AS node, l.label FROM edges e
         |  JOIN l${k - 1} l ON e.src = l.node
         |  UNION ALL SELECT node, label FROM l${k - 1}),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY count(*) DESC, label) AS rn
         |    FROM v$k GROUP BY node, label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesCte),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$layers,
       |lp AS (SELECT node, label FROM l$rounds)""".stripMargin
  }
}
