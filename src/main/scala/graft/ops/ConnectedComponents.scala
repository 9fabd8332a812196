package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the clustering
  * step of the dedup pipeline (pairs of near-duplicates → one keeper per
  * component). Two engines with the same contract:
  *
  *   - [[minLabel]]: per-round "take the min label of your neighbors"
  *     propagation. Rounds = component DIAMETER — ideal for near-dup
  *     graphs (clusters are short chains; the synthetic corpora converge
  *     in 2–3 rounds).
  *   - [[alternatingStar]]: the alternating small-star/large-star
  *     algorithm (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond"): each round rewires edges toward the component minimum,
  *     converging in O(log) rounds REGARDLESS of diameter. The scale
  *     fallback for when components turn out deep (chains of borderline
  *     near-dups, link graphs): at 100 TB a diameter-bound loop on a
  *     pathological chain is unbounded, a log-bound one is not.
  *
  * Both: each round is equi-join + aggregate shuffles on the node key
  * (high-cardinality, skew-free) and a `localCheckpoint` that truncates
  * lineage so the plan stays O(1)-sized across iterations.
  *
  * Input: two long columns (an undirected pair per row, either
  * orientation, duplicates fine). Output: `(doc_id, cluster_id)` for
  * every node that appears in ≥ 1 pair, cluster_id = min node id of the
  * component.
  */
object ConnectedComponents {

  /** Engine selection with a convergence budget: run [[minLabel]] (the
    * cheap-per-round engine, ideal for the shallow components near-dup
    * graphs produce) for at most `diameterBudget` rounds; if the
    * labels have not stabilized by then the graph is DEEP and the
    * remaining distance-to-fixpoint is unbounded in the diameter, so
    * restart on [[alternatingStar]] (O(log) rounds regardless of
    * shape). The budget wastes at most `diameterBudget` cheap rounds
    * before switching — the price of not needing to know the diameter
    * up front, which at 100 TB nobody does.
    */
  def auto(pairs: DataFrame, diameterBudget: Int = 8): (DataFrame, Int) =
    IterConf.persisted(pairs) { capped =>
      minLabelBounded(capped, diameterBudget) match {
        case Some((labels, rounds)) => (labels, rounds)
        case None =>
          val (labels, starRounds) = alternatingStar(capped)
          (labels, diameterBudget + starRounds)
      }
    }

  /** Min-label propagation; returns (labels, rounds). */
  def minLabel(pairs: DataFrame): (DataFrame, Int) =
    minLabelBounded(pairs, Int.MaxValue).get

  /** [[minLabel]] that gives up (None) after `maxRounds` un-converged
    * rounds — the primitive [[auto]] builds on.
    */
  private def minLabelBounded(pairs: DataFrame, maxRounds: Int): Option[(DataFrame, Int)] = {
    val pr = pairs.toDF("src", "dst")
    IterConf.roundLoop(pr.union(pr.select(col("dst"), col("src"))).toDF("src", "dst")) {
      (edges, _) =>
        var labels = edges.select(col("src").as("doc_id")).distinct()
          .withColumn("label", col("doc_id"))
          .localCheckpoint()
        var rounds = 0
        var done = false
        while (!done && rounds < maxRounds) {
          rounds += 1
          val nmin = edges
            .join(labels.select(col("doc_id").as("src"), col("label").as("slabel")), "src")
            .groupBy(col("dst").as("doc_id"))
            .agg(min(col("slabel")).as("nlabel"))
          val upd = labels.join(nmin, Seq("doc_id"), "left")
            .select(col("doc_id"), col("label"),
              least(col("label"), coalesce(col("nlabel"), col("label"))).as("nl"))
            .localCheckpoint()
          done = upd.filter(col("nl") < col("label")).isEmpty
          labels = upd.select(col("doc_id"), col("nl").as("label"))
        }
        if (done) Some((labels.select(col("doc_id"), col("label").as("cluster_id")), rounds))
        else None
    }
  }

  /** Alternating small-star/large-star; returns (labels, rounds) where a
    * round = one large-star + one small-star pass. Terminates when the
    * edge set reaches its fixpoint (every edge points child → component
    * minimum, i.e. the graph is a union of stars).
    */
  def alternatingStar(pairs: DataFrame, maxRounds: Int = 64): (DataFrame, Int) = {
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // m(u) = min(Γ(u) ∪ {u}); large-star: (v, m(u)) for v > u;
    // small-star: (v, m(u)) for v ≤ u, plus (u, m(u)); self-loops drop
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val adj = sym(e)
      val mins = adj.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val joined = adj.join(mins, "u")
      val emitted =
        if (large) joined.filter(col("v") > col("u")).select(col("v").as("u"), col("m").as("v"))
        else joined.filter(col("v") <= col("u")).select(col("v").as("u"), col("m").as("v"))
          .union(mins.select(col("u"), col("m").as("v")))
      emitted.filter(col("u") =!= col("v")).distinct()
    }

    IterConf.roundLoop(pairs.toDF("u", "v").filter(col("u") =!= col("v")).distinct()) {
      (start, _) =>
        var edges = start
        var rounds = 0
        var done = false
        while (!done && rounds < maxRounds) {
          rounds += 1
          val next = star(star(edges, large = true), large = false).localCheckpoint()
          done = next.except(edges).union(edges.except(next)).isEmpty
          edges = next
        }
        require(done, s"alternatingStar did not converge in $maxRounds rounds")
        // fixpoint edges are (child, root); roots label themselves
        val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
          .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
          .distinct()
        (labels, rounds)
    }
  }
}
