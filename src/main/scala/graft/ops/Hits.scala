package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed HITS (hubs & authorities, Kleinberg 1999) over a directed
  * edge list — the mutual-reinforcement sibling of [[PageRank]]: a good
  * hub points at good authorities, a good authority is pointed at by
  * good hubs. On a bipartite demand graph (customer → supplier) the two
  * scores separate cleanly: hubs rank the pointing side, authorities the
  * pointed-at side.
  *
  * Arithmetic contract: FIXED-POINT INTEGER, like PageRank but with
  * NORMALIZATION instead of damping. Each half-step is
  *
  *   auth_raw(v) = Σ_{u→v} hub(u)         (exact long sum)
  *   auth(v)     = (auth_raw(v) · scale) div Σ auth_raw   (L1-normalize)
  *
  * and symmetrically for hubs from the fresh authorities. Every value
  * stays ≤ scale after normalization, so with scale = 1e9 the product
  * auth_raw · scale ≤ 1e18 never overflows a long, long sums commute
  * (partition-order independence), and the floor-divisions truncate
  * identically in any 64-bit engine — the DuckDB oracle unrolls the same
  * half-steps as CTE layers generated from the same constants
  * ([[sqlCtes]]). Classic HITS L2-normalizes; L1 keeps the recurrence in
  * exact integers, and the two differ only by a per-iteration scalar, so
  * rankings are identical.
  *
  * Scale shape: the edge list is persisted src-partitioned once; each
  * half-step moves only the node-count score frame (one equi-join + one
  * long-sum groupBy), normalization totals ride as 1-row broadcasts, and
  * per-round localCheckpoint keeps the plan O(1)-sized over any
  * iteration count — the house iterative-engine contract
  * (ConnectedComponents / PageRank / Bfs).
  */
object Hits {

  /** @param edges directed (src: long, dst: long) rows; MUST be distinct —
    *              the no-overflow argument above (each addend ≤ scale, so a
    *              per-node raw sum stays ≤ n·scale ≪ 2^63/scale) assumes at
    *              most one edge per (src, dst); parallel-edge multiplicity
    *              could push raw · scale past Long.MaxValue silently.
    *              Callers dedup first (g10 does `.distinct()`); run() does
    *              not dedup internally because that extra exchange would
    *              change every pinned plan budget for a case no caller has.
    * @return (hubs, auths): (node, hub) for every node with an
    *         out-edge, (node, auth) for every node with an in-edge;
    *         both in units of 1/scale, each column L1-summing to ~scale
    *         (minus per-node floor truncation).
    */
  def run(
      edges: DataFrame,
      iterations: Int,
      scale: Long = 1000000000L): (DataFrame, DataFrame) = {
    require(iterations >= 1, "iterations must be >= 1")
    IterConf.roundLoop(edges.select(col("src"), col("dst")).repartition(col("src"))) { (e, nEdges) =>
      // no edges: no hubs and no authorities, the empty frames
      if (nEdges == 0L) {
        val none = edges.limit(0)
        (none.select(col("src").as("node"), lit(0L).as("hub")),
          none.select(col("dst").as("node"), lit(0L).as("auth")))
      } else IterConf.persisted(e.select(col("src").as("node")).distinct()) { hubNodes =>
        // One half-step: each `to` node sums the `score` of the scored
        // nodes at its edges' `from` end, L1-normalized into `out`.
        // r14: the L1 total folds to the driver as ONE long (the KMeans
        // bounded-collect rule) — the former 1-row-agg
        // crossJoin(broadcast(...)) built a broadcast exchange per
        // half-step just to ship a scalar. Same exact long arithmetic
        // (sum + floor division). The raw sums are CACHED before use:
        // both consumers (the L1 total and the normalized frame) would
        // otherwise each re-run the edge join + groupBy — the
        // corpus-sized half-step work twice per half-step.
        def halfStep(scores: DataFrame, score: String, from: String, to: String,
            out: String): DataFrame =
          IterConf.persisted(e.join(scores, e(from) === scores("node"))
              .groupBy(to).agg(sum(score).as("raw"))) { raw =>
            val tot = raw.agg(sum("raw")).first().getLong(0)
            raw.selectExpr(s"$to AS node", s"(raw * ${scale}L) div ${tot}L AS $out")
              .localCheckpoint()
          }
        // the hub count folds to the driver the same way
        val nh = hubNodes.count()
        var hubs = hubNodes
          .selectExpr("node", s"${scale / nh}L AS hub")
          .localCheckpoint()
        var auths: DataFrame = hubs.limit(0).selectExpr("node", "hub AS auth")
        for (_ <- 1 to iterations) {
          auths = halfStep(hubs, "hub", "src", "dst", "auth")
          hubs = halfStep(auths, "auth", "dst", "src", "hub")
        }
        (hubs, auths)
      }
    }
  }

  /** The DuckDB mirror of [[run]] as unrolled CTE layers generated from
    * the same constants — callers splice `WITH $sqlCtes` in front of a
    * SELECT over `hub` (node, hub) / `auth` (node, auth). `edgesCte`
    * must yield (src, dst).
    */
  def sqlCtes(
      edgesCte: String,
      iterations: Int,
      scale: Long = 1000000000L): String = {
    // every CTE is referenced exactly ONCE by the next layer: a raw/tot
    // CTE pair would be referenced twice and DuckDB INLINES multiply-
    // referenced CTEs — doubling the whole prior chain per reference,
    // 4^iterations expansions (observed: the sf0.1 replay spilled temp
    // storage until the disk filled). The L1 total therefore comes from
    // an unpartitioned window over the raw aggregate, same exact
    // integer value, single reference, linear plan.
    val layers = (1 to iterations).map { k =>
      s"""a$k AS (
         |  SELECT dst AS node, (raw * $scale) // (sum(raw) OVER ()) AS auth
         |  FROM (SELECT e.dst, sum(h.hub) AS raw
         |        FROM edges e JOIN h${k - 1} h ON e.src = h.node
         |        GROUP BY e.dst)),
         |h$k AS (
         |  SELECT src AS node, (raw * $scale) // (sum(raw) OVER ()) AS hub
         |  FROM (SELECT e.src, sum(a.auth) AS raw
         |        FROM edges e JOIN a$k a ON e.dst = a.node
         |        GROUP BY e.src))""".stripMargin
    }.mkString(",\n")
    s"""edges AS ($edgesCte),
       |hn AS (SELECT DISTINCT src AS node FROM edges),
       |nh AS (SELECT count(*) AS n FROM hn),
       |h0 AS (SELECT node, ($scale // n) AS hub FROM hn CROSS JOIN nh),
       |$layers,
       |hub AS (SELECT node, CAST(hub AS BIGINT) AS hub FROM h$iterations),
       |auth AS (SELECT node, CAST(auth AS BIGINT) AS auth FROM a$iterations)""".stripMargin
  }
}
