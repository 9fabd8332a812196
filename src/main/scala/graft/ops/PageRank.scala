package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PageRank over a directed edge list — the iterative
  * link-analysis sibling of [[ConnectedComponents]] (which clusters;
  * this ranks). Used in corpus curation to score documents/hosts by
  * centrality of a similarity or reference graph.
  *
  * Arithmetic contract: FIXED-POINT INTEGER. Ranks are longs in units
  * of 1/scale (default 1e-12), every step is integer add / multiply /
  * floor-divide, so the result is bit-exact, independent of partition
  * count and aggregation order (long sums commute), and replayable by
  * any engine that has 64-bit integers — the DuckDB oracle unrolls the
  * same iterations as CTE layers (the ops.KMeans mirroring pattern).
  * Float PageRank cannot make that promise: double summation order
  * varies run-to-run under Spark's partial aggregation. The quantization
  * error is ≤ iterations · (outdeg-truncation + damping-truncation) per
  * node — at scale=1e12, ~1e-11 relative, far below any ranking use.
  *
  *   rank_0(v)   = scale div N
  *   teleport    = ((den − num) · (scale div N)) div den
  *   rank_k+1(v) = teleport + (num · Σ_{u→v} (rank_k(u) div outdeg(u))) div den
  *
  * (num/den is the damping factor, default 85/100. Dangling mass is not
  * redistributed — callers with dangling nodes add reverse edges or
  * accept the leak, which only rescales.)
  *
  * Scale shape: one pass builds out-degrees; each iteration is
  * (a) a node-keyed equi-join attaching per-node contributions,
  * (b) an edge join on src against the PERSISTED src-partitioned edge
  * list (the big side stays where it is; only the rank frame — one row
  * per node — moves), and (c) a groupBy(dst) long-sum with map-side
  * partial aggregation. No step holds more than node-cardinality state;
  * lineage is truncated per round (localCheckpoint) so the plan stays
  * O(1)-sized however many iterations run — the CC engine's contract.
  */
object PageRank {

  /** @param edges directed (src: long, dst: long) rows; duplicates are
    *              distinct parallel edges (each carries contribution).
    *              For undirected graphs pass both orientations.
    * @return (node, rank) for every node with ≥ 1 out-edge; rank in
    *         units of 1/scale.
    */
  def run(
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampingNum: Long = 85,
      dampingDen: Long = 100): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    IterConf.roundLoop(srcPartitioned(edges)) { (e, nEdges) =>
      // no edges, no nodes: the empty (node, rank) frame, as the DuckDB
      // mirror yields no rows over an empty `deg`
      if (nEdges == 0L) edges.select(col("src").as("node"), lit(0L).as("rank")).limit(0)
      else IterConf.persisted(outDegrees(e)) { deg =>
        // r14: node count folded to the driver as ONE long (the KMeans
        // bounded-collect rule — a count, not a corpus collect), so the
        // per-node constants (init rank, teleport) become LITERALS
        // instead of a per-round crossJoin(broadcast(1-row agg)) — one
        // fewer aggregate + broadcast job per round. Same integer
        // arithmetic: Scala Long `/` is the same floor division as SQL
        // `div` on the positive operands here.
        val r0 = scale / deg.count()
        val teleport = ((dampingDen - dampingNum) * r0) / dampingDen
        iterate(e, deg, lit(r0), lit(teleport), iterations, dampingNum, dampingDen)
      }
    }
  }

  /** PERSONALIZED PageRank (random walk with restart): identical
    * integer recurrence, but ALL teleport mass returns to the seed set
    * instead of spreading uniformly — rank becomes proximity to the
    * seeds rather than global centrality (the "importance relative to
    * a trusted set" prior: topic-sensitive PageRank, Haveliwala 2002).
    *
    *   rank_0(v)   = scale div |S|  if v ∈ S else 0
    *   rank_k+1(v) = [v ∈ S] · ((den − num) · (scale div |S|)) div den
    *                 + (num · Σ_{u→v} (rank_k(u) div outdeg(u))) div den
    *
    * Same bit-exact fixed-point contract and per-iteration plan shape
    * as [[run]] — the seed set rides as a broadcast membership flag on
    * the node frame (no extra shuffle). Seeds without out-edges are
    * dangling like any other node (their mass leaks by the same
    * documented contract). An empty seed set ranks every node 0, as
    * the DuckDB mirror does (its `scale // 0` is NULL inside a CASE
    * branch no node takes).
    *
    * @param sources (node: long) seed rows — small (broadcast) by
    *                contract; duplicates are collapsed.
    */
  def runPersonalized(
      edges: DataFrame,
      sources: DataFrame,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampingNum: Long = 85,
      dampingDen: Long = 100): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    IterConf.roundLoop(srcPartitioned(edges)) { (e, _) =>
      IterConf.persisted(outDegrees(e)) { deg =>
        IterConf.persisted(sources.select(col("node")).distinct()
            .withColumn("is_src", lit(1L))) { srcs =>
          // r14: seed count folded to the driver as ONE long (see
          // run()), and the base frame carries (outdeg, is_src) so each
          // round is a pure contribution projection + ONE inflow
          // attach join — the former shape re-joined srcs and
          // re-aggregated the seed count per round.
          val ns = srcs.count()
          val r0 = if (ns == 0L) 0L else scale / ns
          val teleport = ((dampingDen - dampingNum) * r0) / dampingDen
          IterConf.persisted(deg
              .join(broadcast(srcs), Seq("node"), "left")
              .selectExpr("node", "outdeg", "is_src IS NOT NULL AS is_src")) { base =>
            iterate(e, base,
              expr(s"CASE WHEN is_src THEN ${r0}L ELSE 0L END"),
              expr(s"CASE WHEN is_src THEN ${teleport}L ELSE 0L END"),
              iterations, dampingNum, dampingDen)
          }
        }
      }
    }
  }

  /** The edge list as both loops persist it: (src, dst), src-partitioned. */
  private def srcPartitioned(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst")).repartition(col("src"))

  /** (node, outdeg) for every node with an out-edge. */
  private def outDegrees(e: DataFrame): DataFrame =
    e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"))

  /** The one iteration loop of [[run]] and [[runPersonalized]].
    *
    * r14 (VERDICT r13 item 9): the rank state CARRIES every column of
    * `base` (node, outdeg, and whatever per-node flags the teleport
    * reads), so each round's contribution step is a pure projection
    * (`rank div outdeg`) instead of a ranks⋈deg equi-join — one join per
    * round (inflow attach) instead of two.
    *
    * @param base     (node, outdeg, ...) for every node with an out-edge.
    * @param rank0    the initial rank, over `base`'s columns.
    * @param teleport the per-round teleport term, over `base`'s columns.
    * @return (node, rank) after `iterations` rounds.
    */
  private def iterate(
      e: DataFrame,
      base: DataFrame,
      rank0: Column,
      teleport: Column,
      iterations: Int,
      dampingNum: Long,
      dampingDen: Long): DataFrame = {
    val carried = base.columns.toSeq.map(col)
    var state = base.select(carried :+ rank0.as("rank"): _*).localCheckpoint()
    for (_ <- 1 to iterations) {
      val contrib = state.selectExpr("node", "rank div outdeg AS contrib")
      val inflow = e.join(contrib, e("src") === contrib("node"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      state = base
        .join(inflow, col("node") === col("dst"), "left")
        .select(carried :+ (teleport +
          expr(s"($dampingNum * coalesce(inflow, 0L)) div $dampingDen")).as("rank"): _*)
        .localCheckpoint()
    }
    state.select("node", "rank")
  }

  /** The DuckDB mirror of [[runPersonalized]] — callers splice
    * `WITH $sqlCtesPersonalized` in front of a SELECT over `ppr`
    * (node, rank). `sourcesCte` must yield (node) seed rows.
    */
  def sqlCtesPersonalized(
      edgesCte: String,
      sourcesCte: String,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampingNum: Long = 85,
      dampingDen: Long = 100): String = {
    val layers = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT d.node,
         |    (CASE WHEN d.node IN (SELECT node FROM src) THEN
         |      ((($dampingDen - $dampingNum) * ($scale // ns.ns)) // $dampingDen)
         |      ELSE 0 END)
         |    + (($dampingNum * coalesce(i.inflow, 0)) // $dampingDen) AS rank
         |  FROM deg d CROSS JOIN ns
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.rank // dg.outdeg) AS inflow
         |    FROM edges e
         |    JOIN r${k - 1} r ON e.src = r.node
         |    JOIN deg dg ON dg.node = e.src
         |    GROUP BY e.dst) i ON d.node = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesCte),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |src AS (SELECT DISTINCT node FROM ($sourcesCte)),
       |ns AS (SELECT count(*) AS ns FROM src),
       |r0 AS (
       |  SELECT d.node,
       |    CASE WHEN d.node IN (SELECT node FROM src)
       |      THEN ($scale // ns.ns) ELSE 0 END AS rank
       |  FROM deg d CROSS JOIN ns),
       |$layers,
       |ppr AS (SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations)""".stripMargin
  }

  /** The DuckDB mirror of [[run]] as unrolled CTE layers, generated from
    * the same constants — callers splice `WITH $sqlCtes` in front of a
    * SELECT over `pr` (node, rank). `edgesCte` must yield (src, dst).
    */
  def sqlCtes(
      edgesCte: String,
      iterations: Int,
      scale: Long = 1000000000000L,
      dampingNum: Long = 85,
      dampingDen: Long = 100): String = {
    val layers = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT d.node,
         |    ((($dampingDen - $dampingNum) * ($scale // nn.n)) // $dampingDen)
         |      + (($dampingNum * coalesce(i.inflow, 0)) // $dampingDen) AS rank
         |  FROM deg d CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.rank // dg.outdeg) AS inflow
         |    FROM edges e
         |    JOIN r${k - 1} r ON e.src = r.node
         |    JOIN deg dg ON dg.node = e.src
         |    GROUP BY e.dst) i ON d.node = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesCte),
       |deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT node, ($scale // nn.n) AS rank FROM deg CROSS JOIN nn),
       |$layers,
       |pr AS (SELECT node, CAST(rank AS BIGINT) AS rank FROM r$iterations)""".stripMargin
  }
}
