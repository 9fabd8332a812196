package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative k-core peeling over an undirected edge list (both
  * orientations present) — the DENSITY-ROBUSTNESS member of the
  * iterative-graph family: [[ConnectedComponents]] "same group?",
  * [[PageRank]] "how central?", [[LabelPropagation]] "which
  * community?", [[Bfs]] "how far?", this answers "how deeply embedded?"
  * — a node survives round after round only if enough of its NEIGHBORS
  * also survive, so the k-core strips hubs whose support is shallow
  * (the spam-farm / link-ring shape: high degree, low embeddedness).
  *
  * Contract: FIXED `rounds` of synchronous peeling (remove nodes with
  * degree < k, delete their edges, repeat), so the result is a pure
  * function of (edges, k, rounds) — bit-exact under any partitioning
  * (counts and joins only, no floats) and replayable by [[sqlCtes]] as
  * unrolled DuckDB layers. When the peel converges before `rounds`
  * (survivor set stops changing) the remaining layers are no-ops, so a
  * converged run IS the k-core; an unconverged run is the documented
  * "rounds-bounded peel toward it" (the LPA fixed-rounds convention).
  *
  * Scale shape: each round is one degree aggregate + two semi-style
  * equi-joins of the CURRENT edge list against the survivor set — and
  * the edge list only ever SHRINKS, so per-round cost is monotonically
  * decreasing; lineage truncated per round (O(1) plan size). The
  * per-round profile rows are 1-row aggregates of checkpointed frames.
  */
object KCore {

  /** @param edges undirected (src: long, dst: long), both orientations.
    * @return (profile, core): profile = (round, survivors, edges_left)
    *         for rounds 1..`rounds`; core = surviving (node, deg) where
    *         deg is the within-core degree at the LAST peel.
    *
    * Early stop: survivor and edge sets are MONOTONE shrinking (a
    * node's degree can only fall as edges are deleted), so equal
    * counts in consecutive rounds imply the fixpoint — the remaining
    * layers are no-ops and their profile rows are emitted as the
    * converged values without running them (the Pregel active-set
    * pattern: at sf0.1 the peel converges in 5 of the 12 contracted
    * rounds; measured 15.9 s → the cost of the live rounds only).
    * The per-round counts come from driver actions on the checkpointed
    * frames, so the profile is a LocalTableScan — no plan machinery at
    * all for what is, by contract, a 12-row result.
    */
  def run(edges: DataFrame, k: Int, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, "rounds must be >= 1")
    IterConf.roundLoop(edges.select(col("src"), col("dst"))) { (e, _) =>
      var cur = e
      var surv: DataFrame = null
      val profile = Seq.newBuilder[(Long, Long, Long)]
      var lastS = -1L
      var lastE = -1L
      var converged = false
      for (r <- 1 to rounds) {
        if (!converged) {
          surv = cur.groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= k)
            .select(col("src").as("node"), col("deg"))
            .localCheckpoint()
          cur = cur
            .join(surv.select(col("node").as("src")), "src")
            .join(surv.select(col("node").as("dst")), "dst")
            .select(col("src"), col("dst"))
            .localCheckpoint()
          val ns = surv.count()
          val ne = cur.count()
          converged = ns == lastS && ne == lastE
          lastS = ns
          lastE = ne
        }
        profile += ((r.toLong, lastS, lastE))
      }
      val profileDf = edges.sparkSession.createDataFrame(profile.result())
        .toDF("round", "survivors", "edges_left")
      (profileDf, surv)
    }
  }

  /** DuckDB mirror of [[run]]'s profile as unrolled CTE layers — splice
    * `WITH $sqlCtes` in front of a SELECT over `profile`
    * (round, survivors, edges_left). `edgesCte` must yield (src, dst).
    *
    * Every layer is MATERIALIZED: c_r is referenced 3× by round r+1
    * (degree count, both join probes), and DuckDB inlines plain CTEs
    * per reference — 12 rounds would expand 3^12 copies of the whole
    * chain (observed as thousands of parquet opens). Materialization
    * makes the replay linear, matching the engine's per-round
    * checkpoints.
    */
  def sqlCtes(edgesCte: String, k: Int, rounds: Int): String = {
    val layers = (1 to rounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT src AS node, count(*) AS deg FROM c${r - 1}
         |  GROUP BY src HAVING count(*) >= $k),
         |c$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM c${r - 1} e
         |  JOIN s$r a ON e.src = a.node JOIN s$r b ON e.dst = b.node),
         |p$r AS (
         |  SELECT CAST($r AS BIGINT) AS round,
         |    (SELECT count(*) FROM s$r) AS survivors,
         |    (SELECT count(*) FROM c$r) AS edges_left)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds).map(r => s"SELECT * FROM p$r").mkString(" UNION ALL ")
    s"""c0 AS MATERIALIZED ($edgesCte),
       |$layers,
       |profile AS ($union)""".stripMargin
  }
}
