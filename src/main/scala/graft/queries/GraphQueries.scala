package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.NumFns.round6
import graft.ops.{Bfs, Hits, KCore, LabelPropagation, PageRank, Sssp}

/** Graph-analytics rows over graphs derived from the synthetic tables —
  * the iterative-algorithm pillar beside d07's connected components
  * (clustering) : PageRank (ranking). In a corpus pipeline this is the
  * centrality score over a document-similarity or host-link graph that
  * quality/dedup stages weight by (e.g. keep the most-central member of
  * a near-dup cluster instead of min-id).
  */
object GraphQueries {

  /** Session-scoped memo of the shared edge-list builds (the
    * DedupQueries prelude idiom): four queries each derive the trade
    * graph from lineitem⋈orders and four more the co-purchase graph
    * from the lineitem self-join — without the memo every g-row re-ran
    * its base-graph build inside its own timed region (guide §2.4:
    * two operations keyed the same way share one exchange — here they
    * share the whole build). Bench attributes the builds to their own
    * `g00_graph_prelude` entry via [[prewarmParts]]. All memoized
    * frames are edge lists (pair volume), never corpus-scale payloads.
    */
  private[queries] val memo = Memo.frames()

  def evict(s: SparkSession, dir: String): Unit = memo.evict(s, dir)

  /** g00: the shared edge builds, consumed by every g-row and x24 (whose
    * basket support pairs ARE the copurchase memo).
    */
  val prelude: Prelude = Prelude("g00_graph_prelude", Set(
    "g01_pagerank", "g02_label_prop", "g03_triangles", "g04_bfs_reach",
    "g05_kcore_peel", "g06_sssp", "g07_ppr", "g08_adamic_adar",
    "g09_neighbor_jaccard", "g10_hits", "x24_assoc_rules"), Seq(memo), prewarmParts)

  /** Attributed prelude builds for Bench (the DedupQueries.prewarmParts
    * pattern): each shared edge frame timed as its own component.
    */
  def prewarmParts(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    // w first: trade_pairs is a projection of its memo (one shared
    // lineitem⋈orders build — r14; order matters only for attribution)
    "trade_pairs_w" -> (() => { tradePairsW(s, dir); () }),
    "trade_pairs" -> (() => { tradePairs(s, dir); () }),
    "copurchase_pairs" -> (() => { copurchasePairs(s, dir); () }))

  /** Distinct bipartite trade pairs (c = 2·custkey, sp = 2·suppkey+1) —
    * the directed demand graph (g10) and the base of [[tradeEdges]].
    *
    * r14: exactly the KEY SET of [[tradePairsW]]'s aggregate — the
    * former standalone build re-ran the same lineitem⋈orders join just
    * to distinct the same (c, sp) expressions (guide §2.4 share one
    * build). A projection of the persisted weighted frame; memoized so
    * consumers keep their own narrow cached copy.
    */
  private def tradePairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "tpairs") {
      tradePairsW(s, dir).select(col("c"), col("sp"))
    }

  /** Weighted trade pairs: (c, sp, w) with integer cost
    * greatest(1, 6 − co-trade count).
    */
  private def tradePairsW(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "tpairsw") {
      val li = Tables(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("sp"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("c"), col("sp"), greatest(lit(1L), lit(6L) - col("cnt")).as("w"))
    }

  /** Support-thresholded part co-purchase pairs (u < v, supp =
    * shared-order count ≥ MinSupport) — g03/g05/g08/g09's shared
    * sparsified graph. r14: carries `supp` so x24_assoc_rules consumes
    * THIS memo (its basket self-join + support count is this build,
    * verbatim — guide §2.4); the graph consumers project (u, v).
    */
  private[queries] def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "copurchase") {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      li.as("a").join(li.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= MinSupport)
    }

  /** Customer–supplier trade graph: an undirected edge when a customer's
    * order contains a supplier's line item. Node encoding keeps both id
    * spaces in one long key: customers even (2k), suppliers odd (2k+1).
    * A projection over the memoized [[tradePairs]].
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = tradePairs(s, dir)
    pairs.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(pairs.select(col("sp").as("src"), col("c").as("dst")))
  }

  /** Weighted trade graph: same bipartite customer–supplier nodes as
    * [[tradeEdges]], but each edge carries the [[tradePairsW]] cost.
    * Both orientations emitted.
    */
  private def tradeEdgesW(s: SparkSession, dir: String): DataFrame = {
    val pairs = tradePairsW(s, dir)
    pairs.select(col("c").as("src"), col("sp").as("dst"), col("w"))
      .unionAll(pairs.select(col("sp").as("src"), col("c").as("dst"), col("w")))
  }

  /** The seed of g04, g06 and g07: the trade graph's best-connected
    * node (max degree, then min node id — a total argmax both engines
    * compute identically), as one (node) row.
    */
  private def tradeHub(e: DataFrame): DataFrame =
    e.groupBy("src").agg(count(lit(1)).as("dg"))
      .agg(max(struct(col("dg").as("d"), (-col("src")).as("nn"))).as("m"))
      .select((-col("m.nn")).as("node"))

  /** g01's and g07's output: the top 25 (node, rank) rows, each node
    * decoded to its side and id, rank also as a fraction of [[Scale]].
    */
  private def topRanks(ranks: DataFrame): DataFrame =
    ranks
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").as("node_id"),
        col("rank"),
        round6(col("rank").cast("double") / lit(Scale.toDouble)).as("rank_f"))
      .orderBy(desc("rank"), col("node_type"), col("node_id"))
      .limit(25)

  /** g04's and g06's output: the node census per distance, split by side. */
  private def distanceCensus(dists: DataFrame): DataFrame =
    dists
      .groupBy("dist")
      .agg(count(lit(1)).as("nodes"),
        sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("customers"),
        sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("suppliers"))
      .orderBy("dist")

  private val Iters = 5
  private val Scale = 1000000000000L
  private val LpRounds = 4
  private val BfsHops = 6
  private val SsspRounds = 10
  private val MinSupport = 2
  private val AaCapDeg = 64
  private val KCoreK = 2
  private val KCoreRounds = 12
  private val HitsIters = 4
  private val HitsScale = 1000000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank over the customer–supplier trade graph — 5 fixed-point
    // integer iterations (ops.PageRank's bit-exact contract; the DuckDB
    // oracle replays the same layers as unrolled CTEs). The bipartite
    // shape concentrates rank on high-degree suppliers: the top of this
    // list is "who is most central to trade", the graph twin of q04's
    // revenue ranking. Scale shape: the edge list is persisted
    // src-partitioned once; each iteration moves only the node-count
    // rank frame (equi-joins + one long-sum groupBy per round) — the
    // canonical iterative-shuffle pattern, O(1) plan size via per-round
    // lineage truncation.
    "g01_pagerank" -> { (s, dir) =>
      topRanks(PageRank.run(tradeEdges(s, dir), Iters, Scale))
    },

    // Community detection over the same trade graph — 4 synchronous
    // label-propagation rounds (ops.LabelPropagation's deterministic
    // vote: max neighbor-label count, min-label tie-break, self-vote).
    // Where g01 ranks nodes and d07's CC merges anything connected,
    // this groups by neighborhood DENSITY: a community is a block of
    // customers and suppliers that mostly trade with each other — the
    // stratification key a curation pipeline samples evenly across.
    // Output is the community summary (size + per-side membership),
    // largest first. Scale shape = the sibling engines': persisted
    // src-partitioned edges, one label-frame join + two node-keyed
    // aggregations per round, O(1) plan via per-round checkpoints.
    "g02_label_prop" -> { (s, dir) =>
      LabelPropagation.run(tradeEdges(s, dir), LpRounds)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("members"),
          sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("customers"),
          sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("suppliers"))
        .select(
          when(col("community") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
            .as("community_type"),
          expr("community div 2").as("community_id"),
          col("members"), col("customers"), col("suppliers"))
        .orderBy(desc("members"), col("community_type"), col("community_id"))
        .limit(25)
    },

    // Local clustering coefficient via degree-oriented triangle
    // counting over the SUPPORT-THRESHOLDED part co-purchase graph
    // (parts sharing >= 2 orders — the frequent-itemset sparsifier:
    // a single random co-occurrence is noise, and measured at sf0.1
    // the unthresholded graph is 1.2M noise edges vs 3.6k signal
    // edges; exact triangles on the noise cost 26 s, on the signal
    // sub-second, and the edge count stays ~constant as SF grows
    // because random co-occurrence doesn't repeat). The orientation
    // trick (Cohen 2009; the MapReduce/GraphX standard): orient every
    // undirected edge from its (degree, id)-smaller endpoint to the
    // larger, enumerate wedges only among a node's OUT-neighbors, and
    // close each wedge against the oriented edge list. Out-degrees are
    // bounded by O(sqrt(edges)) whatever the degree distribution, so
    // wedge volume is O(m^1.5) instead of the naive Σ deg² — the
    // difference between feasible and not on a skewed 100 TB
    // co-occurrence graph (a hub with 10^6 neighbors proposes 10^12
    // naive wedges, ~10^6 oriented). All-integer counts; the
    // coefficient 2t/(d(d-1)) is one exact division, round6'd.
    "g03_triangles" -> { (s, dir) =>
      // memoized persisted pair frame — serves the multi-reference role
      // the per-query localCheckpoint used to
      val e = copurchasePairs(s, dir)
      val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val du = deg.select(col("node").as("u"), col("d").as("du"))
      val dv = deg.select(col("node").as("v"), col("d").as("dv"))
      val ori = e.join(du, "u").join(dv, "v")
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("v"))
            .otherwise(col("u")).as("dst"),
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")), col("dv"))
            .otherwise(col("du")).as("dd"))
        .localCheckpoint()
      val w = ori.as("x").join(ori.as("y"),
          col("x.src") === col("y.src") &&
            struct(col("x.dd"), col("x.dst")) < struct(col("y.dd"), col("y.dst")))
        .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
      val tri = w.join(ori.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      // one generator over the three corners — a 3-branch union would
      // re-execute the wedge+closing join once per branch
      val tn = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
      tn.join(deg, "node")
        .select(col("node").as("part_id"), col("d").as("degree"), col("triangles"),
          round6(col("triangles") * 2.0 / (col("d") * (col("d") - 1))).as("clustering"))
        .orderBy(desc("triangles"), col("part_id"))
        .limit(25)
    },

    // Multi-source BFS distance profile — hop distance from the
    // best-connected node of the trade graph (max degree, min node id:
    // a total argmax both engines compute identically), bucketed into
    // the per-distance node census. The distance-from-seed feature is
    // the web-curation quality prior ("hops from a trusted node");
    // here it also measures the graph's reach: how much of the trade
    // network sits within k hops of its hub. ops.Bfs's integer
    // min-plus relaxation is bit-exact under any partitioning and
    // replayed by the oracle as unrolled CTE layers. Nodes beyond 6
    // hops (or disconnected) carry no row by contract.
    "g04_bfs_reach" -> { (s, dir) =>
      val e = tradeEdges(s, dir)
      distanceCensus(Bfs.run(e, tradeHub(e), BfsHops))
    },

    // k-core peel profile over the support-thresholded part
    // co-purchase graph (g03's sparsifier) — ops.KCore: 12 fixed
    // synchronous rounds of "drop nodes with degree < 2, delete their
    // edges"; the output is the per-round (survivors, edges_left)
    // cascade. On THIS graph the cascade is the story: the ≥2-support
    // edges are repeat co-purchases, and peeling shows how much of
    // that graph is mutually-supported structure vs chains that
    // unravel once an endpoint goes (measured sf0.1: 1067 → 3 nodes in
    // five rounds — almost the whole "signal" graph is shallow; the
    // 3-node residue is the only genuinely embedded clique). The
    // embeddedness screen dedup/quality pipelines use to separate
    // ring-like link structure from organically dense neighborhoods.
    // Completes the iterative-graph family: CC / PageRank / LPA / BFS
    // / k-core, all integer-exact and oracle-replayed.
    "g05_kcore_peel" -> { (s, dir) =>
      val pairs = copurchasePairs(s, dir)
      val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(pairs.select(col("v").as("src"), col("u").as("dst")))
      val (profile, _) = KCore.run(edges, KCoreK, KCoreRounds)
      profile.orderBy("round")
    },

    // WEIGHTED shortest paths from the trade hub — ops.Sssp, the
    // weighted member of the iterative family (g04's BFS is its
    // unit-weight case, and the case it cannot express: here a cheap
    // multi-hop route through strong ties beats an expensive direct
    // edge). Edge cost greatest(1, 6 − co-trade count): a pair that
    // traded ≥5 times costs 1, a one-off tie costs 5 — proximity along
    // RELIABLE relationships, the trust-propagation prior a curation
    // pipeline scores by. Same hub seed as g04; the output is the
    // per-cost census, which makes the contrast with g04's hop census
    // directly readable. Integer min-plus, improvement-frontier rounds
    // with early stop at the fixpoint; the oracle replays fixed full-
    // relaxation layers (equal per round — SsspSpec pins it).
    "g06_sssp" -> { (s, dir) =>
      val e = tradeEdgesW(s, dir)
      distanceCensus(Sssp.run(e, tradeHub(e), SsspRounds))
    },

    // PERSONALIZED PageRank from the trade hub — random walk with
    // restart to the g04 seed (ops.PageRank.runPersonalized): all
    // teleport mass returns to the hub, so rank measures PROXIMITY to
    // it along trade relationships rather than g01's global
    // centrality — the "importance relative to a trusted set" prior
    // (topic-sensitive PageRank) a curation pipeline scores hosts/docs
    // by when it trusts a seed list, where g04/g06 answer the same
    // question with hop/cost distance and this answers it with visit
    // mass (multi-path reinforcement counts, not just shortest
    // distance). Same fixed-point integer contract and per-round plan
    // shape as g01; the seed set rides as a broadcast membership flag
    // (no extra shuffle). Top-25 by rank.
    "g07_ppr" -> { (s, dir) =>
      val e = tradeEdges(s, dir)
      topRanks(PageRank.runPersonalized(e, tradeHub(e), Iters, Scale))
    },

    // ADAMIC-ADAR link prediction over the support-thresholded part
    // co-purchase graph (g03's sparsifier) — the classic
    // common-neighbor feature a recommender / graph-ML pipeline
    // computes for every non-edge candidate pair: AA(a,b) =
    // Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) (rare shared neighbors count
    // more). Wedge enumeration is quadratic in CENTER degree, so
    // super-hub centers (deg > 64) are excluded by contract — their
    // per-term weight 1/ln(d) is the smallest anyway, and the cap
    // bounds wedge work at Σ min(d, 64)² under ANY skew (the g03
    // orientation trick doesn't apply here: AA needs every common
    // neighbor, not one canonical corner). Each center's weight folds
    // to integer MICRO-units once (deg table, tiny), so per-pair
    // scores are exact long sums — no IEEE aggregation-order drift
    // (the t21 rule). Existing edges anti-join out: the output is
    // PREDICTED links, ranked.
    "g08_adamic_adar" -> { (s, dir) =>
      val e = copurchasePairs(s, dir)
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
      // d >= 2: a degree-1 center can't close a wedge, and ln(1) = 0
      // would divide the weight by zero
      val ctr = adj.join(deg.filter(col("d") >= 2 && col("d") <= AaCapDeg), "node")
        .withColumn("w_micro",
          floor(lit(1000000.0) / log(col("d").cast(DoubleType)) + lit(0.5))
            .cast(LongType))
      val wedges = ctr.as("x").join(ctr.as("y"),
          col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
        .select(col("x.nbr").as("a"), col("y.nbr").as("b"),
          col("x.w_micro").as("w_micro"))
      wedges.groupBy("a", "b")
        .agg(count(lit(1)).as("common"), sum(col("w_micro")).as("aa_micro"))
        .join(e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
        .select(col("a").as("part_a"), col("b").as("part_b"), col("common"),
          col("aa_micro"),
          round6(col("aa_micro").cast(DoubleType) / lit(1000000.0)).as("aa"))
        .orderBy(desc("aa_micro"), col("part_a"), col("part_b"))
        .limit(25)
    },

    // NEIGHBORHOOD JACCARD link prediction — g08's complement: where
    // Adamic-Adar weights each common neighbor by rarity, Jaccard
    // normalizes the raw overlap by the union of the two
    // neighborhoods, |N(a)∩N(b)| / (d_a + d_b − |N(a)∩N(b)|) — the
    // degree-robust score (a hub sharing 5 of its 500 neighbors ranks
    // far below two 6-degree parts sharing the same 5). Same
    // co-purchase graph and wedge enumeration as g08 (common
    // neighbors counted through centers with deg ≤ 64 by the same
    // documented hub-cap contract; Σ min(d,64)² wedge bound under any
    // skew), but the DENOMINATOR uses full degrees from the deg
    // table. The score folds to exact integer micro-units by long
    // division — both engines aggregate only longs, the one double is
    // the displayed ratio (t21 rule). Existing edges anti-join out:
    // the output is PREDICTED links, ranked.
    "g09_neighbor_jaccard" -> { (s, dir) =>
      val e = copurchasePairs(s, dir)
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      // deg has three consumers (center filter + both score joins)
      val deg = adj.groupBy("node").agg(count(lit(1)).as("d")).localCheckpoint()
      val ctr = adj.join(deg.filter(col("d") >= 2 && col("d") <= AaCapDeg), "node")
      val wedges = ctr.as("x").join(ctr.as("y"),
          col("x.node") === col("y.node") && col("x.nbr") < col("y.nbr"))
        .select(col("x.nbr").as("a"), col("y.nbr").as("b"))
      wedges.groupBy("a", "b")
        .agg(count(lit(1)).as("common"))
        .join(e.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
        .join(deg.select(col("node").as("a"), col("d").as("d_a")), "a")
        .join(deg.select(col("node").as("b"), col("d").as("d_b")), "b")
        .withColumn("jac_micro",
          expr("(common * 1000000L) div (d_a + d_b - common)"))
        .select(col("a").as("part_a"), col("b").as("part_b"), col("common"),
          col("d_a"), col("d_b"), col("jac_micro"),
          round6(col("jac_micro").cast(DoubleType) / lit(1000000.0)).as("jac"))
        .orderBy(desc("jac_micro"), col("part_a"), col("part_b"))
        .limit(25)
    },

    // HITS hubs & authorities (Kleinberg) over the DIRECTED demand
    // graph customer → supplier — where g01's PageRank scores global
    // centrality on the symmetrized graph, HITS separates the two
    // roles by mutual reinforcement: a hub customer is one whose
    // demand spans the strong suppliers; an authority supplier is one
    // the strong hubs buy from. ops.Hits runs 4 fixed-point integer
    // iterations (L1-normalized half-steps — each value ≤ scale, so
    // raw·scale never overflows a long and every division truncates
    // identically in both engines); the oracle replays the same
    // half-steps as unrolled CTE layers from the same constants. Top
    // 12 per role, rank-deterministic tie-break on node id.
    "g10_hits" -> { (s, dir) =>
      // the directed demand graph IS the distinct trade-pair frame
      // (one row per (customer, supplier) pair, customer → supplier)
      val edges = tradePairs(s, dir)
        .select(col("c").as("src"), col("sp").as("dst"))
      val (hubs, auths) = Hits.run(edges, HitsIters, HitsScale)
      val topHub = hubs.orderBy(desc("hub"), col("node")).limit(12)
        .select(lit("customer").as("role"), expr("node div 2").as("node_id"),
          col("hub").as("score"))
      val topAuth = auths.orderBy(desc("auth"), col("node")).limit(12)
        .select(lit("supplier").as("role"), expr("node div 2").as("node_id"),
          col("auth").as("score"))
      topHub.unionAll(topAuth)
        .withColumn("score_f",
          round6(col("score").cast(DoubleType) / lit(HitsScale.toDouble)))
        .orderBy(col("role"), desc("score"), col("node_id"))
    })

  private val tradeEdgesSql =
    """SELECT c AS src, sp AS dst FROM tpairs
      |  UNION ALL SELECT sp AS src, c AS dst FROM tpairs""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // tpairs materializes the distinct bipartite pairs once; the
    // PageRank layers come from ops.PageRank.sqlCtes — the same
    // constants the Spark side iterates with
    "g01_pagerank" ->
      s"""WITH tpairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |${PageRank.sqlCtes(tradeEdgesSql, Iters, Scale)}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |  node // 2 AS node_id, rank,
         |  floor((CAST(rank AS DOUBLE) / ${Scale.toDouble}) * 1000000.0 + 0.5) / 1000000.0 AS rank_f
         |FROM pr
         |ORDER BY rank DESC, node_type, node_id
         |LIMIT 25""".stripMargin,

    // the LPA layers come from ops.LabelPropagation.sqlCtes — the same
    // (edges, rounds) the Spark side votes with
    "g02_label_prop" ->
      s"""WITH tpairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |${LabelPropagation.sqlCtes(tradeEdgesSql, LpRounds)}
         |SELECT CASE WHEN label % 2 = 0 THEN 'customer' ELSE 'supplier' END AS community_type,
         |  label // 2 AS community_id,
         |  count(*) AS members,
         |  CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS customers,
         |  CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS suppliers
         |FROM lp
         |GROUP BY 1, 2
         |ORDER BY members DESC, community_type, community_id
         |LIMIT 25""".stripMargin,

    // same degree-ordered orientation: wedges among out-neighbors in
    // (dd, dst) order, closed against the oriented edge list
    "g03_triangles" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT u, v FROM (
        |        SELECT a.p AS u, b.p AS v, count(*) AS supp
        |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |        GROUP BY a.p, b.p)
        |      WHERE supp >= $MinSupport),
        |deg AS (SELECT node, count(*) AS d FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        |        GROUP BY node),
        |ori AS (SELECT
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
        |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dd
        |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT x.src AS a, x.dst AS b, y.dst AS c
        |      FROM ori x JOIN ori y
        |      ON x.src = y.src AND (x.dd, x.dst) < (y.dd, y.dst)),
        |tri AS (SELECT a, b, c FROM w JOIN ori z ON w.b = z.src AND w.c = z.dst),
        |tn AS (SELECT node, count(*) AS triangles FROM (
        |         SELECT a AS node FROM tri
        |         UNION ALL SELECT b AS node FROM tri
        |         UNION ALL SELECT c AS node FROM tri)
        |       GROUP BY node)
        |SELECT tn.node AS part_id, deg.d AS degree, tn.triangles,
        |  floor((tn.triangles * 2.0 / (deg.d * (deg.d - 1))) * 1000000.0 + 0.5)
        |    / 1000000.0 AS clustering
        |FROM tn JOIN deg ON tn.node = deg.node
        |ORDER BY triangles DESC, part_id
        |LIMIT 25""".stripMargin,

    // seed = (max degree, min node) argmax; BFS layers from
    // ops.Bfs.sqlCtes — the same (edges, sources, hops)
    "g04_bfs_reach" ->
      s"""WITH tpairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |${Bfs.sqlCtes(
        tradeEdgesSql,
        """SELECT src AS node FROM (
          |    SELECT src, count(*) AS dg FROM edges GROUP BY src)
          |  ORDER BY dg DESC, src LIMIT 1""".stripMargin,
        BfsHops)}
         |SELECT dist, count(*) AS nodes,
         |  CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS customers,
         |  CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS suppliers
         |FROM bfs
         |GROUP BY dist
         |ORDER BY dist""".stripMargin,

    // same co-purchase sparsifier as g03; the peel layers come from
    // ops.KCore.sqlCtes — the engine's 12 rounds replayed verbatim
    "g05_kcore_peel" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |pairs AS (SELECT u, v FROM (
         |    SELECT a.p AS u, b.p AS v, count(*) AS supp
         |    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
         |    GROUP BY a.p, b.p)
         |  WHERE supp >= $MinSupport),
         |${KCore.sqlCtes(
            "SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs",
            KCoreK, KCoreRounds)}
         |SELECT round, survivors, edges_left FROM profile
         |ORDER BY round""".stripMargin,

    // weighted edges with the same hub seed as g04; the relaxation
    // layers come from ops.Sssp.sqlCtes (full Bellman-Ford per layer —
    // same per-round fixpoint as the engine's improvement frontier)
    "g06_sssp" ->
      s"""WITH tpairs AS (
         |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp,
         |    greatest(1, 6 - count(*)) AS w
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY c, sp),
         |${Sssp.sqlCtes(
        """SELECT c AS src, sp AS dst, w FROM tpairs
          |  UNION ALL SELECT sp AS src, c AS dst, w FROM tpairs""".stripMargin,
        """SELECT src AS node FROM (
          |    SELECT src, count(*) AS dg FROM edges GROUP BY src)
          |  ORDER BY dg DESC, src LIMIT 1""".stripMargin,
        SsspRounds)}
         |SELECT dist, count(*) AS nodes,
         |  CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS customers,
         |  CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS suppliers
         |FROM sssp
         |GROUP BY dist
         |ORDER BY dist""".stripMargin,

    // same hub-seed CTE as g04; the restart layers come from
    // ops.PageRank.sqlCtesPersonalized — the same (edges, seed,
    // iterations, damping) the Spark side iterates with
    "g07_ppr" ->
      s"""WITH tpairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |${PageRank.sqlCtesPersonalized(
        tradeEdgesSql,
        """SELECT src AS node FROM (
          |    SELECT src, count(*) AS dg FROM edges GROUP BY src)
          |  ORDER BY dg DESC, src LIMIT 1""".stripMargin,
        Iters, Scale)}
         |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
         |  node // 2 AS node_id, rank,
         |  floor((CAST(rank AS DOUBLE) / ${Scale.toDouble}) * 1000000.0 + 0.5) / 1000000.0 AS rank_f
         |FROM ppr
         |ORDER BY rank DESC, node_type, node_id
         |LIMIT 25""".stripMargin,

    // same g03 edge build; per-center micro-weights from the deg
    // table, exact long sums per pair, existing edges excluded
    "g08_adamic_adar" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT u, v FROM (
        |        SELECT a.p AS u, b.p AS v, count(*) AS supp
        |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |        GROUP BY a.p, b.p)
        |      WHERE supp >= $MinSupport),
        |adj AS (SELECT u AS node, v AS nbr FROM e
        |        UNION ALL SELECT v AS node, u AS nbr FROM e),
        |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
        |ctr AS (
        |  SELECT adj.node, adj.nbr,
        |    CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)) + 0.5) AS BIGINT) AS w_micro
        |  FROM adj JOIN deg ON adj.node = deg.node WHERE d BETWEEN 2 AND $AaCapDeg),
        |wdg AS (SELECT x.nbr AS a, y.nbr AS b, x.w_micro
        |        FROM ctr x JOIN ctr y ON x.node = y.node AND x.nbr < y.nbr),
        |sc AS (SELECT a, b, count(*) AS common, CAST(sum(w_micro) AS BIGINT) AS aa_micro
        |       FROM wdg GROUP BY a, b)
        |SELECT a AS part_a, b AS part_b, common, aa_micro,
        |  floor((CAST(aa_micro AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
        |    / 1000000.0 AS aa
        |FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = sc.a AND e.v = sc.b)
        |ORDER BY aa_micro DESC, part_a, part_b
        |LIMIT 25""".stripMargin,

    // same g08 edge build and hub-capped wedge count; full degrees in
    // the denominator; integer micro-units by long division on both
    // sides, the one double is the displayed ratio
    "g09_neighbor_jaccard" ->
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT u, v FROM (
        |        SELECT a.p AS u, b.p AS v, count(*) AS supp
        |        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |        GROUP BY a.p, b.p)
        |      WHERE supp >= $MinSupport),
        |adj AS (SELECT u AS node, v AS nbr FROM e
        |        UNION ALL SELECT v AS node, u AS nbr FROM e),
        |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
        |ctr AS (SELECT adj.node, adj.nbr
        |        FROM adj JOIN deg ON adj.node = deg.node
        |        WHERE d BETWEEN 2 AND $AaCapDeg),
        |wdg AS (SELECT x.nbr AS a, y.nbr AS b
        |        FROM ctr x JOIN ctr y ON x.node = y.node AND x.nbr < y.nbr),
        |sc AS (SELECT a, b, count(*) AS common FROM wdg GROUP BY a, b),
        |nx AS (SELECT sc.a, sc.b, sc.common FROM sc
        |       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = sc.a AND e.v = sc.b)),
        |j AS (SELECT nx.a, nx.b, nx.common, da.d AS d_a, db.d AS d_b,
        |        CAST((nx.common * 1000000) // (da.d + db.d - nx.common) AS BIGINT)
        |          AS jac_micro
        |      FROM nx JOIN deg da ON nx.a = da.node JOIN deg db ON nx.b = db.node)
        |SELECT a AS part_a, b AS part_b, common, d_a, d_b, jac_micro,
        |  floor((CAST(jac_micro AS DOUBLE) / 1000000.0) * 1000000.0 + 0.5)
        |    / 1000000.0 AS jac
        |FROM j
        |ORDER BY jac_micro DESC, part_a, part_b
        |LIMIT 25""".stripMargin,

    // ops.Hits.sqlCtes unrolls the same L1-normalized half-steps from
    // the same constants; top 12 per role with the same tie-break
    "g10_hits" -> {
      val edgesCte =
        """SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin
      s"""WITH ${Hits.sqlCtes(edgesCte, HitsIters, HitsScale)},
         |th AS (SELECT 'customer' AS role, node // 2 AS node_id, hub AS score
         |  FROM hub ORDER BY hub DESC, node LIMIT 12),
         |ta AS (SELECT 'supplier' AS role, node // 2 AS node_id, auth AS score
         |  FROM auth ORDER BY auth DESC, node LIMIT 12)
         |SELECT role, node_id, score,
         |  floor((CAST(score AS DOUBLE) / $HitsScale.0) * 1000000.0 + 0.5)
         |    / 1000000.0 AS score_f
         |FROM (SELECT * FROM th UNION ALL SELECT * FROM ta)
         |ORDER BY role, score DESC, node_id""".stripMargin
    })
}
