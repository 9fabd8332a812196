package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.functions.NumFns.round6
import graft.functions.VecFns._

/** Approximate-nearest-neighbor search over `embeddings.embedding`
  * (Array[Float], dim 64). Brute-force cosine top-k is the oracle-checkable
  * baseline; sign-LSH bucketing is the scale path (candidates share a
  * 2^8-bucket random-hyperplane signature, so the join is bucket-local
  * instead of all-pairs). Vectors are L2-normalized in a linear pre-pass
  * so every pairwise cosine is one dot product.
  */
object SimilarityQueries {

  /** Radius threshold for the s20/s21 range-search pair (cosine ≥ τ). */
  private val RangeTau = 0.3

  /** The SHARED memoized normalized-vector frame (Quantizer.vecsNorm,
    * built once per (session, dir), widened, persisted, attributed as
    * d00's `vecs_norm` component): every s-row previously re-ran the
    * l2normalize projection from the single-split test scan inside its
    * own timed region — ~0.2-0.5 s × ~15 rows (VERDICT r13 item 7). At
    * 100 TB the memo is one cached narrow projection shared by every
    * retrieval tier. The label column rides along for the IVF rows;
    * rows that don't need it project it away implicitly (all consumers
    * select explicit columns).
    */
  private def vecsNorm(s: SparkSession, dir: String): DataFrame =
    Quantizer.vecsNorm(s, dir)

  /** Per-label spherical centroids: order-independent elementwise mean
    * via DECIMAL sums — ONE label-keyed aggregate carrying 64 decimal
    * accumulators + a count, assembled into the centroid array in a
    * projection (an earlier posexplode form shuffled 64× the rows on
    * (label, pos) and needed a second shuffle to re-collect the array;
    * decimal sums are exact, so values are bit-identical either way).
    * Shared by s03 (nprobe=1 search) and s10 (the nprobe sweep).
    */
  private def ivfCentroids(v: DataFrame): DataFrame = {
    val sums = (0 until LshDim).map(d =>
      sum(element_at(col("e"), d + 1).cast(DecimalType(28, 9))).as(s"s$d"))
    v.groupBy(col("label"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
      .select(col("label").as("c_label"),
        array((0 until LshDim).map(d =>
          col(s"s$d").cast(DoubleType) / col("n")): _*).as("c"))
  }

  private def topk(q: DataFrame, c: DataFrame, joinCond: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
    q.join(c, joinCond)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        dotSeq(col("q.e"), col("c.e")).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Serve top-3 neighbors from the persisted trained-quantizer
    * artifact: probe the RE-READ centroids (a tiny broadcast), prune the
    * cid-partitioned postings LISTING to the probed clusters via the
    * driver-safe bounded collect (the d13 tiny-collect pattern; an empty
    * probe batch makes `probed` empty, the empty IN list is
    * false-for-all and `best` itself is empty, so the result is the
    * correct empty frame — PersistedIndexSpec pins the isin semantics),
    * scan only those inverted lists, rank within each query. ONE serve
    * implementation shared verbatim by three lifecycles: s25 (one-shot
    * build), s26 (append-maintained artifact), s27 (every online
    * micro-batch). `probes` must carry (vec_id, e) with e L2-normalized.
    */
  private[graft] def serveQuantizerArtifact(s: SparkSession, centRe: DataFrame,
      postingsPath: String, probes: DataFrame): DataFrame = {
    val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("cid"))
    val best = probes.crossJoin(broadcast(centRe))
      .select(col("vec_id").as("query_id"), col("cid"),
        dotSeq(col("e"), col("c")).as("d"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("cid"))
    val probed = best.select("cid").distinct().collect().map(_.get(0))
    val post = s.read.parquet(postingsPath)
      .where(col("cid").isin(probed: _*))
    val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
    best
      .join(probes.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
      .join(post.select(col("cid"), col("vec_id").as("neighbor_id"),
        col("e").as("ce")), "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-k: 10 query vectors × full corpus. At scale
    // the (small) query side broadcasts and the corpus is scanned once.
    "s01_cosine_topk" -> { (s, dir) =>
      val v = vecsNorm(s, dir)
      val q = broadcast(v.filter(col("vec_id") < 10)).as("q")
      val c = v.as("c")
      topk(q, c, col("q.vec_id") =!= col("c.vec_id"))
    },

    // Sign-LSH bucketed top-k: bucket = 8-bit signature of hyperplane dot
    // signs; the candidate join is equi on bucket (shuffle-local) instead
    // of a cross product.
    "s02_lsh_topk" -> { (s, dir) =>
      val v = vecsNorm(s, dir).withColumn("bucket", lshBucket(col("e")))
      val q = v.filter(col("vec_id") < 10).as("q")
      val c = v.as("c")
      topk(q, c,
        col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
    },

    // Scalar-quantization (SQ8) top-k: the compression tier of the ANN
    // ladder (vs s02's bucketing and s03's clustering). Per-dim min/max
    // over the corpus -> every vector quantized to 64 ints in [0,255]
    // (a production build stores them as 64 BYTES — 4x smaller than
    // float32, the point of SQ at 100 TB: the resident set and scan
    // bandwidth shrink 4x; here the codes ride in exact integer-valued
    // doubles so the DuckDB oracle replays the math bit-for-bit).
    // Candidates = top-C by QUANTIZED dot product — integer-valued
    // arithmetic, so the candidate set is deterministic across engines,
    // no float-boundary flakiness — then ONLY the C survivors pay the
    // exact-cosine rerank. Scale shape: stats agg is one tiny broadcast
    // row; candidate scoring is one corpus scan; rerank touches C rows
    // per query.
    "s04_sq8_topk" -> { (s, dir) =>
      val C = 10 // candidate pool per query before exact rerank
      val v = Tables(s, dir, "embeddings")
        .select(col("vec_id"), toDouble(col("embedding")).as("x"),
          l2normalize(toDouble(col("embedding"))).as("e"))
      val mins = (0 until LshDim).map(d => min(element_at(col("x"), d + 1)).as(s"mn$d"))
      val maxs = (0 until LshDim).map(d => max(element_at(col("x"), d + 1)).as(s"mx$d"))
      val stats = v.agg(mins.head, (mins.tail ++ maxs): _*)
        .select(array((0 until LshDim).map(d => col(s"mn$d")): _*).as("mns"),
          array((0 until LshDim).map(d => col(s"mx$d")): _*).as("mxs"))
      // q[d] = clamp(floor((x[d]-mn[d]) / (mx[d]-mn[d]) * 255)) as an
      // exact integer-valued double (same op order as the oracle SQL)
      val quant = zip_with(
        zip_with(col("x"), col("mns"), (x, mn) => x - mn),
        zip_with(col("mxs"), col("mns"), (mx, mn) => mx - mn),
        (xd, r) => least(lit(255L), greatest(lit(0L), floor(xd / r * 255.0))).cast(DoubleType))
      val qv = v.crossJoin(broadcast(stats)).select(col("vec_id"), col("e"), quant.as("q"))
      val probe = broadcast(qv.filter(col("vec_id") < 10)).as("q")
      val corpus = qv.as("c")
      val wCand = Window.partitionBy("query_id").orderBy(desc("qscore"), col("neighbor_id"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
      probe.join(corpus, col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          dotSeq(col("q.q"), col("c.q")).as("qscore"),
          col("q.e").as("qe"), col("c.e").as("ce"))
        .withColumn("crank", row_number().over(wCand))
        .filter(col("crank") <= C)
        .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
        .orderBy("query_id", "rank")
    },

    // Product-quantization (PQ) top-k — the 5th ANN tier (brute s01,
    // bucketed s02, clustered s03, scalar-quantized s04): the 64-dim
    // vector splits into M=4 16-dim subvectors, each assigned a CODEBOOK
    // entry per subspace (here: sign-LSH bucket -> decimal-exact bucket
    // mean, the s03 centroid trick applied per subspace — a trained
    // per-subspace codebook is possible with ops.KMeans' mirrorable
    // Lloyd's, but the one-pass LSH codebook is M× cheaper to build and
    // the tier's loss is already frozen by s08), so
    // a vector's resident footprint is M code ids (4 bytes vs 256: the
    // PQ compression story at 100 TB). Query scoring is ADC (asymmetric
    // distance computation): one tiny LUT of query-subvector x codebook
    // dots, candidates sum their M looked-up parts IN FIXED SUBSPACE
    // ORDER (pivoted columns — engine-identical IEEE addition), top-C by
    // ADC, exact-cosine rerank of the C survivors only. Scale shape:
    // codebook + LUT broadcast; the candidate pass scans codes, not
    // vectors.
    "s05_pq_topk" -> { (s, dir) =>
      val M = 4
      val SubDim = 16
      val C = 10
      // localCheckpoint: cb, the LUT, and the code table all read `sub`,
      // and the rerank reads `v` twice — without materialization the
      // normalize + subspace-LSH subtree is re-evaluated per reference
      // (~3x the corpus work; measured 4.4 s -> ~2 s at sf0.1). Both
      // frames are corpus-row-sized but narrow; at cluster scale this is
      // the standard cache-the-codes step of a PQ index build.
      val v = vecsNorm(s, dir).localCheckpoint()
      val sub = v.select(col("vec_id"),
          posexplode(array((0 until M).map(m =>
            slice(col("e"), m * SubDim + 1, SubDim)): _*)))
        .toDF("vec_id", "m", "sub")
        .withColumn("b", lshBucketN(col("sub"), SubDim))
        .localCheckpoint()
      val sums = (0 until SubDim).map(d =>
        sum(element_at(col("sub"), d + 1).cast(DecimalType(28, 9))).as(s"s$d"))
      val cb = sub.groupBy("m", "b")
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("m"), col("b"),
          array((0 until SubDim).map(d =>
            col(s"s$d").cast(DoubleType) / col("n")): _*).as("cb"))
      val lut = sub.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("m"), col("sub"))
        .join(broadcast(cb), Seq("m"))
        .select(col("query_id"), col("m"), col("b"),
          dotSeq(col("sub"), col("cb")).as("part"))
      val codes = sub.select(col("vec_id").as("neighbor_id"), col("m"), col("b"))
      val parts = (0 until M).map(m =>
        max(when(col("m") === m, col("part"))).as(s"p$m"))
      val adc = codes.join(broadcast(lut), Seq("m", "b"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(parts.head, parts.tail: _*)
        .select(col("query_id"), col("neighbor_id"),
          (0 until M).map(m => col(s"p$m")).reduce(_ + _).as("adc"))
      val wCand = Window.partitionBy("query_id").orderBy(desc("adc"), col("neighbor_id"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
      adc.withColumn("crank", row_number().over(wCand))
        .filter(col("crank") <= C)
        .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
        .join(v.select(col("vec_id").as("neighbor_id"), col("e").as("ce")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
        .orderBy("query_id", "rank")
    },

    // ANN EVALUATION: recall@3 of the sign-LSH tier against the exact
    // brute-force answer — the metric every approximate index reports,
    // as an oracle row (the t11 pattern applied to similarity). Both
    // inputs are the already-pinned s01/s02 queries, so this also pins
    // their COMPOSITION; hits counts the per-query overlap of the two
    // top-3 sets. Bucket collisions make some queries lose neighbors —
    // that loss is exactly what this row measures and freezes.
    "s06_lsh_recall" -> { (s, dir) =>
      val exact = queries("s01_cosine_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val approx = queries("s02_lsh_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.intersect(approx)
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("query_id"), col("n_exact"), col("hits"),
          round6(col("hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    },

    // Recall@3 of the PQ tier vs exact — completes the evaluation
    // matrix (s06 bucketed, s07 clustered, s08 quantized): PQ loses
    // neighbors to codebook quantization error, the loss this freezes.
    "s08_pq_recall" -> { (s, dir) =>
      val exact = queries("s01_cosine_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val approx = queries("s05_pq_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.intersect(approx)
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("query_id"), col("n_exact"), col("hits"),
          round6(col("hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    },

    // Recall@3 of the IVF tier vs exact — the s06 pattern for the
    // clustered index: IVF misses exactly the true neighbors living
    // outside the probed cluster, and this row freezes that loss.
    "s07_ivf_recall" -> { (s, dir) =>
      val exact = queries("s01_cosine_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val approx = queries("s03_ivf_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.intersect(approx)
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("query_id"), col("n_exact"), col("hits"),
          round6(col("hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    },

    // IVF-style top-k: coarse quantizer = per-label spherical centroids
    // (elementwise decimal-exact mean of normalized vectors), probe the
    // best centroid, search only that cluster. At scale: centroids are a
    // tiny broadcast table and the cluster scan is partition-pruned by
    // the inverted-list key. `label` is the synthetic stand-in quantizer
    // (kept as the measured control); s11 is the TRAINED-quantizer twin
    // and s12 puts their recall side by side.
    "s03_ivf_topk" -> { (s, dir) =>
      val v = vecsNorm(s, dir) // shared memo carries (vec_id, label, e)
      val centroids = ivfCentroids(v)
      val q = v.filter(col("vec_id") < 10)
      val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("c_label"))
      val best = q.crossJoin(broadcast(centroids))
        .select(col("vec_id").as("query_id"), col("c_label"),
          dotSeq(col("e"), col("c")).as("d"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("c_label").as("best_label"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
      best
        .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
        .join(v.select(col("label").as("best_label"), col("vec_id").as("neighbor_id"),
          col("e").as("ce")), "best_label")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
        .orderBy("query_id", "rank")
    },

    // The IVF nprobe SWEEP — the d12/d15 "measure the knob" pattern for
    // the clustered tier's one tuning knob: for nprobe ∈ {1,2,4}, probe
    // the nprobe best centroids per query (s03 is the nprobe=1 member),
    // search only those clusters, and score recall@3 against the exact
    // s01 top-3 beside the candidate volume each setting pays. One
    // centroid ranking feeds every config (the config dimension explodes
    // into the key, the one-subtree d12 trick); labels partition the
    // corpus, so a candidate appears once per config. At 100 TB this is
    // the table you read before fixing nprobe corpus-wide.
    "s10_ivf_nprobe" -> { (s, dir) =>
      val probes = Seq(1, 2, 4)
      val v = vecsNorm(s, dir) // shared memo carries (vec_id, label, e)
      val q = v.filter(col("vec_id") < 10)
      val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("c_label"))
      val ranked = q.crossJoin(broadcast(ivfCentroids(v)))
        .select(col("vec_id").as("query_id"), col("c_label"),
          dotSeq(col("e"), col("c")).as("d"))
        .withColumn("rn", row_number().over(wProbe))
      val probed = ranked
        .select(col("query_id"), col("c_label").as("label"), col("rn"),
          explode(array(probes.map(lit(_)): _*)).as("p"))
        .filter(col("rn") <= col("p"))
        .select(col("p"), col("query_id"), col("label"))
      val scored = probed
        .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
        .join(v.select(col("label"), col("vec_id").as("neighbor_id"),
          col("e").as("ce")), "label")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("p"), col("query_id"), col("neighbor_id"),
          dotSeq(col("qe"), col("ce")).as("c"))
      val cand = scored.groupBy("p").agg(count(lit(1)).as("n_candidates"))
      val wTop = Window.partitionBy("p", "query_id").orderBy(desc("c"), col("neighbor_id"))
      val approxTop = scored
        .withColumn("r", row_number().over(wTop))
        .filter(col("r") <= 3)
        .select(col("p"), col("query_id"), col("neighbor_id"))
      val exact = queries("s01_cosine_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      val hits = approxTop.join(exact, Seq("query_id", "neighbor_id"))
        .groupBy("p").agg(count(lit(1)).as("hits"))
      cand.join(hits, Seq("p"), "left")
        .na.fill(0L, Seq("hits"))
        .crossJoin(broadcast(nEx))
        .select(col("p").as("nprobe"), col("n_candidates"), col("hits"),
          col("n_exact"),
          round6(col("hits").cast(DoubleType) /
            col("n_exact").cast(DoubleType)).as("recall_at_3"))
        .orderBy("nprobe")
    },

    // IVF top-k over the TRAINED coarse quantizer — s03's shape with the
    // synthetic `label` stand-in replaced by real k-means clusters
    // (ops.KMeans via the shared Quantizer memo: deterministic seeds,
    // 3 decimal-exact Lloyd's rounds, every step oracle-replayable).
    // The reason this row exists is measured, not assumed: s10 showed
    // label-IVF recall@3 saturating at 0.53 even probing 4 of 10
    // clusters; s12 puts this tier's recall beside it. Scale shape is
    // identical to s03: k-row centroid broadcast for the probe, then an
    // equi-join on the cluster key (the assignment frame is the
    // inverted-list index, built once per session).
    "s11_kmeans_topk" -> { (s, dir) =>
      val asg = Quantizer.assignments(s, dir) // (vec_id, e, cid)
      val cent = Quantizer.centroids(s, dir) // (cid, c)
      val q = asg.filter(col("vec_id") < 10).select(col("vec_id"), col("e"))
      val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("cid"))
      val best = q.crossJoin(broadcast(cent))
        .select(col("vec_id").as("query_id"), col("cid"),
          dotSeq(col("e"), col("c")).as("d"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("cid"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
      best
        .join(asg.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
        .join(asg.select(col("cid"), col("vec_id").as("neighbor_id"),
          col("e").as("ce")), "cid")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
        .orderBy("query_id", "rank")
    },

    // Label-IVF vs kmeans-IVF, judged by recall@3 against the exact
    // brute-force answer — the one-table verdict on whether training the
    // quantizer (s11) beats the synthetic stand-in (s03). Composes three
    // pinned queries, so the row cannot drift from the tiers it
    // compares; both tiers probe nprobe=1, so the recall gap is purely
    // quantizer quality.
    "s12_quantizer_recall" -> { (s, dir) =>
      // r14: checkpointed — the exact frame (30 rows) is referenced by
      // both legs' hit joins AND both legs' n_exact counts; uncached,
      // the s01 brute-force subtree evaluated up to 4× per run
      val exact = queries("s01_cosine_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
      def leg(name: String, q: String): DataFrame = {
        val approx = queries(q)(s, dir).select(col("query_id"), col("neighbor_id"))
        val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
        val nEx = exact.agg(count(lit(1)).as("n_exact"))
        hits.crossJoin(broadcast(nEx))
          .select(lit(name).as("quantizer"), col("n_exact"), col("hits"),
            round6(col("hits").cast(DoubleType) /
              col("n_exact").cast(DoubleType)).as("recall_at_3"))
      }
      leg("ivf_kmeans", "s11_kmeans_topk")
        .unionByName(leg("ivf_label", "s03_ivf_topk"))
        .orderBy("quantizer")
    },

    // Mean reciprocal rank of the TRUE nearest neighbor (s01 rank 1)
    // inside each approximate tier's top-3 — the rank-aware eval beside
    // the s06-s08 recall matrix: recall says how many neighbors survive,
    // MRR says where the one that matters lands. Reciprocal ranks are
    // integer sixths (6 div rank ∈ {6,3,2}, 0 when absent), so the mean
    // is one exact integer sum + one double division — replays exactly.
    "s09_ann_mrr" -> { (s, dir) =>
      val nn1 = queries("s01_cosine_topk")(s, dir)
        .filter(col("rank") === 1).select(col("query_id"), col("neighbor_id"))
      def tier(name: String, q: String): DataFrame =
        nn1.join(queries(q)(s, dir)
            .select(col("query_id"), col("neighbor_id"), col("rank")),
            Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_queries"), count(col("rank")).as("n_found"),
            round6(sum(coalesce(expr("6 div rank"), lit(0L))).cast(DoubleType) /
              (count(lit(1)) * lit(6.0))).as("mrr"))
          .select(lit(name).as("tier"), col("n_queries"), col("n_found"), col("mrr"))
      tier("lsh", "s02_lsh_topk")
        .unionByName(tier("ivf", "s03_ivf_topk"))
        .unionByName(tier("pq", "s05_pq_topk"))
        .orderBy("tier")
    },

    // Attribute-FILTERED ANN — the production retrieval shape: top-k
    // cosine among vectors satisfying a metadata predicate (here the
    // label-parity stand-in for "lang = 'en'" / "license = permissive").
    // Two design decisions the filtered-search literature names:
    // (1) the predicate is pushed INTO the inverted-list scan — a
    // post-filtered plain top-k under-delivers k whenever the filter
    // would have dropped survivors (filter-then-rank, not
    // rank-then-filter); (2) the probe widens to nprobe=2 because
    // filtering thins each cluster's yield (the s10 sweep knob applied
    // for selectivity rather than recall). The quantizer stays trained
    // on the FULL corpus — selection must not move centroids. Scale:
    // the predicate rides the cluster-member scan (partition-pruned by
    // the inverted-list key, filter pushed to the parquet scan), so
    // cost is proportional to SURVIVING members of probed clusters.
    "s13_filtered_ann" -> { (s, dir) =>
      val v = vecsNorm(s, dir) // shared memo carries (vec_id, label, e)
      val centroids = ivfCentroids(v)
      val q = v.filter(col("vec_id") < 10)
      val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("c_label"))
      val probes = q.crossJoin(broadcast(centroids))
        .select(col("vec_id").as("query_id"), col("c_label"),
          dotSeq(col("e"), col("c")).as("d"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= 2)
        .select(col("query_id"), col("c_label").as("probe_label"))
      val filtered = v.filter(col("label") % 2 === 0)
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
      probes
        .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
        .join(filtered.select(col("label").as("probe_label"),
          col("vec_id").as("neighbor_id"), col("e").as("ce")), "probe_label")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          dotSeq(col("qe"), col("ce")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round6(col("c")).as("cos"))
        .orderBy("query_id", "rank")
    },

    // MMR diverse top-k (Carbonell & Goldstein, SIGIR'98): greedy rerank
    // of the retrieved candidate set that trades relevance against
    // redundancy — pick argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s),
    // k=5 picks from the top-20 candidates of query vec 0, λ=0.7. The
    // RAG-context / eval-set-selection step after every ANN query: pure
    // cosine top-k returns near-duplicates (this corpus plants them);
    // MMR surfaces one per neighborhood. Scale shape: retrieval (the
    // top-C TakeOrdered scan) is the distributed stage; the rerank
    // touches only the C-row candidate set and its C² pairwise sims
    // (C=20 here, ~200 in production — broadcastable at any corpus
    // size), with each greedy round one tiny aggregate + argmax,
    // localCheckpoint'ed so the plan stays O(1) across rounds. The
    // DuckDB oracle replays all five greedy steps as unrolled CTEs —
    // double arithmetic is identical expression-for-expression, so the
    // gate checks the full selection path, not just the final set.
    // MULTI-PROBE sign-LSH top-k (Lv et al., VLDB'07): s02 probes only
    // the query's own bucket — multi-probe also searches the 8
    // single-bit-flip neighbor buckets (the most-likely homes of
    // near-misses: one hyperplane sign flipped). Recall rises at the
    // cost of 9× probed buckets while the INDEX stays identical —
    // the knob that trades query fan-out for recall without
    // rebuilding anything (cheaper than more hash tables). Scale
    // shape: probes explode map-side on the (tiny) query frame, the
    // candidate join stays EQUI on bucket (each corpus vector lives
    // in exactly one bucket, so probe buckets are distinct and no
    // candidate dedup is needed), rerank ranks as usual. s17 measures
    // the recall this buys over s02.
    "s16_mplsh_topk" -> { (s, dir) =>
      val v = vecsNorm(s, dir).withColumn("bucket", lshBucket(col("e")))
      val probes = array(col("bucket") +:
        (0 until LshPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)
      val q = v.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("e"), explode(probes).as("bucket"))
        .as("q")
      val c = v.as("c")
      topk(q, c,
        col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
    },

    // Recall@3 of the multi-probe tier vs exact — beside s06 (single-
    // probe), the measured answer to "what did the 9× probe fan-out
    // buy": the s06/s07/s08 evaluation pattern.
    "s17_mplsh_recall" -> { (s, dir) =>
      val exact = queries("s01_cosine_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val approx = queries("s16_mplsh_topk")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.intersect(approx)
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("query_id"), col("n_exact"), col("hits"),
          round6(col("hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    },

    // LSH INDEX BALANCE report — the ops question every bucketed index
    // answers before it ships: how evenly did the hash family spread
    // the corpus? One row per bucket SIZE: how many s02 buckets hold
    // exactly that many vectors, and that size-class's share of the
    // corpus. A fat tail (one mega-bucket) predicts hot-task
    // stragglers in every downstream candidate join — the measured
    // diagnostic behind d03's MaxBucket cap and s02/s06's recall
    // numbers. All-integer; the histogram aggregates are over the
    // bucket table (≤ 2^planes rows), so only the bucket assignment
    // pass touches the corpus.
    "s19_lsh_histogram" -> { (s, dir) =>
      val v = vecsNorm(s, dir).withColumn("bucket", lshBucket(col("e")))
      val per = v.groupBy("bucket").agg(count(lit(1)).as("sz"))
      per.groupBy("sz").agg(count(lit(1)).as("n_buckets"))
        .select(col("sz"), col("n_buckets"),
          (col("sz") * col("n_buckets")).as("vectors"))
        .orderBy("sz")
    },

    // RECALL@k CURVE — s06 freezes one point (recall@3); ANN papers
    // and index-tuning dashboards publish the CURVE: recall@k of the
    // sign-LSH tier vs the exact scan at k ∈ {1, 3, 5, 10}, the shape
    // that says whether the index is missing near-top neighbors (curve
    // rises with k) or whole neighborhoods (flat). One exact and one
    // bucketed top-10 pass, joined once on (query, neighbor); the four
    // k-points fold from ONE aggregate over the joined ranks (no
    // per-k rescans); possible = k × |queries| from a 1-row count.
    "s22_recall_curve" -> { (s, dir) =>
      val Ks = Seq(1, 3, 5, 10)
      val v = vecsNorm(s, dir)
      val vb = v.withColumn("bucket", lshBucket(col("e")))
      def ranked(q: DataFrame, c: DataFrame,
          cond: org.apache.spark.sql.Column): DataFrame = {
        val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
        q.join(c, cond)
          .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
            dotSeq(col("q.e"), col("c.e")).as("c"))
          .withColumn("r", row_number().over(w))
          .filter(col("r") <= 10)
          .select("query_id", "neighbor_id", "r")
      }
      val ex = ranked(v.filter(col("vec_id") < 10).as("q"), v.as("c"),
        col("q.vec_id") =!= col("c.vec_id"))
      val ap = ranked(vb.filter(col("vec_id") < 10).as("q"), vb.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
      val joined = ex.withColumnRenamed("r", "er")
        .join(ap.withColumnRenamed("r", "ar"), Seq("query_id", "neighbor_id"))
      // coalesce: a degenerate EMPTY rank join must yield hits = 0 (the
      // global agg still emits its 1 row), matching the oracle's LEFT JOIN
      val hAggs = Ks.map(k =>
        coalesce(sum(when(col("er") <= k && col("ar") <= k, 1L).otherwise(0L)), lit(0L))
          .as(s"h$k"))
      val nq = ex.select(countDistinct("query_id").as("nq"))
      joined.agg(hAggs.head, hAggs.tail: _*)
        .crossJoin(nq)
        .select(explode(array(Ks.map(k => struct(
          lit(k.toLong).as("k"), col(s"h$k").as("hits"),
          (lit(k.toLong) * col("nq")).as("possible"))): _*)).as("s"))
        .select(col("s.k").as("k"), col("s.hits").as("hits"),
          col("s.possible").as("possible"),
          round6(col("s.hits").cast(DoubleType) /
            col("s.possible").cast(DoubleType)).as("recall"))
        .orderBy("k")
    },

    // RANGE (radius) search — the OTHER retrieval primitive: all
    // neighbors with cosine ≥ τ, not a fixed top-k. Top-k always
    // returns k rows however bad the tail; a radius query returns the
    // semantic MATCHES — the primitive under near-dup candidate
    // generation (d06's ladder) and "find everything above the
    // duplicate threshold" audits. Bucketed exactly like s02 (sign-LSH
    // equi-join, never all-pairs); the τ filter rides the candidate
    // scan, so output is match-sized. Result-set boundary is
    // deterministic across engines because the dot is the same
    // sequential fold on both sides (bit-identical doubles; the τ
    // compare happens on raw bits, round6 only on display).
    "s20_range_search" -> { (s, dir) =>
      val v = vecsNorm(s, dir).withColumn("bucket", lshBucket(col("e")))
      val q = v.filter(col("vec_id") < 10).as("q")
      val c = v.as("c")
      q.join(c,
          col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          dotSeq(col("q.e"), col("c.e")).as("c"))
        .filter(col("c") >= RangeTau)
        .select(col("query_id"), col("neighbor_id"), round6(col("c")).as("cos"))
        .orderBy("query_id", "neighbor_id")
    },

    // Range-search recall vs the exact radius scan — the s06 pattern
    // for the radius primitive: the bucketed path misses exactly the
    // τ-matches hashed into OTHER buckets, and this row freezes that
    // loss per query (queries with zero exact matches drop out, as in
    // s06). The exact side is the documented brute member of the
    // ladder (10 queries × corpus scan, like s01).
    "s21_range_recall" -> { (s, dir) =>
      val v = vecsNorm(s, dir)
      val q = v.filter(col("vec_id") < 10).as("q")
      val exact = q.join(v.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
          dotSeq(col("q.e"), col("c.e")).as("c"))
        .filter(col("c") >= RangeTau)
        .select(col("query_id"), col("neighbor_id"))
      val approx = queries("s20_range_search")(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.intersect(approx)
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(col("query_id"), col("n_exact"), col("hits"),
          round6(col("hits").cast(DoubleType) / col("n_exact")).as("recall"))
        .orderBy("query_id")
    },

    // IVF+PQ — the composed PRODUCTION index (FAISS IndexIVFPQ's
    // shape): the coarse quantizer (s03's label-IVF, nprobe=1)
    // restricts the search to one cluster, and WITHIN the probed
    // cluster candidates are scored by s05's PQ asymmetric-distance
    // (4 subspace codes, broadcast LUT), exact-cosine rerank of the
    // top-C survivors only. Memory story at 100 TB: resident state is
    // cluster id + 4 code bytes per vector; compute story: the ADC
    // scan touches ONE cluster's codes (× nprobe), not the corpus —
    // IVF bounds candidates, PQ bounds bytes, the two knobs compose
    // multiplicatively. Codebook trained corpus-wide on raw
    // subvectors (s05's one-pass LSH codebook; residual-trained
    // codebooks are the next refinement, same plumbing). Everything
    // below the coarse probe is equi-joins on (label) and
    // (query_id, m, b) against broadcast frames.
    "s18_ivfpq_topk" -> { (s, dir) =>
      val M = 4
      val SubDim = 16
      val C = 10
      // the shared persisted memo replaces the former per-row
      // normalize + localCheckpoint (same multi-consumer purpose)
      val v = vecsNorm(s, dir)
      // coarse probe: best centroid per query (s03's decimal-exact
      // label centroids, broadcast both ways)
      val q = v.filter(col("vec_id") < 10)
      val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("c_label"))
      val best = q.crossJoin(broadcast(ivfCentroids(v)))
        .select(col("vec_id").as("query_id"), col("c_label"),
          dotSeq(col("e"), col("c")).as("d"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("c_label").as("label"))
      // PQ codes + codebook (s05's subspace split, kept label-tagged)
      val sub = v.select(col("vec_id"), col("label"),
          posexplode(array((0 until M).map(m =>
            slice(col("e"), m * SubDim + 1, SubDim)): _*)))
        .toDF("vec_id", "label", "m", "sub")
        .withColumn("b", lshBucketN(col("sub"), SubDim))
        .localCheckpoint()
      val sums = (0 until SubDim).map(d =>
        sum(element_at(col("sub"), d + 1).cast(DecimalType(28, 9))).as(s"s$d"))
      val cb = sub.groupBy("m", "b")
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("m"), col("b"),
          array((0 until SubDim).map(d =>
            col(s"s$d").cast(DoubleType) / col("n")): _*).as("cb"))
      val lut = sub.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("m"), col("sub"))
        .join(broadcast(cb), Seq("m"))
        .select(col("query_id"), col("m"), col("b"),
          dotSeq(col("sub"), col("cb")).as("part"))
      // ADC over the PROBED cluster only: codes equi-join the (tiny)
      // best-label frame, then the per-query LUT
      val cl = sub.select(col("vec_id").as("neighbor_id"), col("label"),
          col("m"), col("b"))
        .join(broadcast(best), "label")
      val parts = (0 until M).map(m =>
        max(when(col("m") === m, col("part"))).as(s"p$m"))
      val adc = cl.join(broadcast(lut), Seq("query_id", "m", "b"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(parts.head, parts.tail: _*)
        .select(col("query_id"), col("neighbor_id"),
          (0 until M).map(m => col(s"p$m")).reduce(_ + _).as("adc"))
      val wCand = Window.partitionBy("query_id").orderBy(desc("adc"), col("neighbor_id"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
      adc.withColumn("crank", row_number().over(wCand))
        .filter(col("crank") <= C)
        .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
        .join(v.select(col("vec_id").as("neighbor_id"), col("e").as("ce")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
        .orderBy("query_id", "rank")
    },

    // PERSISTED IVF INDEX LIFECYCLE — the production flow every
    // in-memory tier above skips: BUILD the coarse index once
    // (decimal-exact label centroids + the inverted lists laid out as
    // label-PARTITIONED parquet), WRITE it via io.Writers, then SERVE
    // top-k from the RE-READ artifact only. The oracle is s03's pinned
    // SQL unchanged, so a green row proves index-from-disk ≡
    // index-in-memory: double arrays round-trip parquet bit-exactly
    // and the hive partition column comes back typed (label is int32).
    // Scale story: the build is a one-time job whose cost amortizes
    // over every serving job (s03 repays it per job); centroids are a
    // tiny broadcast table on disk; postings are hive-partitioned
    // inverted lists, so a serving job's scan is pruned to the probed
    // clusters' directories — partition pruning IS the inverted-list
    // seek. Runs eagerly (write → re-read → checkpoint) so the temp
    // artifact is reclaimed before return, the d14 side-effectful
    // pattern; the checkpointed result is 30 rows.
    "s23_ivf_persisted" -> { (s, dir) =>
      // the eager lifecycle takes 4 actions off this frame (two
      // artifact writes, the probed-label collect, the final
      // checkpoint) — the shared persisted memo serves them all (the
      // former per-row normalize + localCheckpoint re-did that work
      // per row; s24 same)
      val v = vecsNorm(s, dir)
      val out = graft.io.Writers.withScratchDir(s, "s23_ivf") { tmp =>
        graft.io.Writers.parquet(ivfCentroids(v), s"$tmp/centroids")
        graft.io.Writers.parquetPartitioned(
          v.select(col("vec_id"), col("e"), col("label")),
          s"$tmp/postings", Seq("label"), targetFileCount = 4)
        val cent = s.read.parquet(s"$tmp/centroids")
        val q = v.filter(col("vec_id") < 10)
        val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("c_label"))
        val best = q.crossJoin(broadcast(cent))
          .select(col("vec_id").as("query_id"), col("c_label"),
            dotSeq(col("e"), col("c")).as("d"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("c_label").as("best_label"))
        // STATIC partition pruning from the query-batch-sized probe set:
        // the distinct best labels are bounded by min(|queries|, nlist) —
        // a driver-safe collect (the d13 tiny-collect pattern) whose IN
        // filter prunes the postings LISTING itself (measured: only the
        // probed label= dirs are opened; DPP against the checkpoint-backed
        // probe frame planned but did not prune — the unbounded-probe-set
        // swap-in is the filtered-scan DPP join PersistedIndexSpec pins).
        // Degenerate probe set (no query vectors → probed empty): the
        // empty IN list evaluates false-for-all, and best is itself empty,
        // so the serve join yields the correct empty frame
        // (PersistedIndexSpec pins the empty-isin semantics this relies on).
        val probed = best.select("best_label").distinct().collect().map(_.get(0))
        val post = s.read.parquet(s"$tmp/postings")
          .where(col("label").isin(probed: _*))
        val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
        best
          .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
          .join(post.select(col("label").as("best_label"),
            col("vec_id").as("neighbor_id"), col("e").as("ce")), "best_label")
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // PERSISTED IVF+PQ INDEX — s23's lifecycle applied to the composed
    // production index (s18's shape): the written artifact is the REAL
    // resident set of an IVFPQ index — coarse centroids, the per-
    // subspace codebook, and the codes table holding ONLY (vec_id, m,
    // code) under label= partitions (no raw subvectors: 4 code ids per
    // vector, the PQ compression actually banked on disk). Serving
    // recomputes query subvectors from the raw store (queries arrive
    // raw online), probes the re-read centroids, builds the ADC LUT
    // against the re-read codebook, scans ONLY the probed label
    // partition's codes, and reranks the top-C against raw vectors —
    // exactly s18's arithmetic, so s18's pinned SQL is the oracle and
    // a green row proves the persisted artifact serves bit-identical
    // results. At 100 TB the codes table is the only corpus-sized
    // artifact and it is 16× narrower than the vectors it indexes.
    "s24_ivfpq_persisted" -> { (s, dir) =>
      val M = 4
      val SubDim = 16
      val C = 10
      val v = vecsNorm(s, dir) // shared persisted memo (see s23)
      val sub = v.select(col("vec_id"), col("label"),
          posexplode(array((0 until M).map(m =>
            slice(col("e"), m * SubDim + 1, SubDim)): _*)))
        .toDF("vec_id", "label", "m", "sub")
        .withColumn("b", lshBucketN(col("sub"), SubDim))
        .localCheckpoint()
      val sums = (0 until SubDim).map(d =>
        sum(element_at(col("sub"), d + 1).cast(DecimalType(28, 9))).as(s"s$d"))
      val cbBuild = sub.groupBy("m", "b")
        .agg(sums.head, (sums.tail :+ count(lit(1)).as("n")): _*)
        .select(col("m"), col("b"),
          array((0 until SubDim).map(d =>
            col(s"s$d").cast(DoubleType) / col("n")): _*).as("cb"))
      val out = graft.io.Writers.withScratchDir(s, "s24_ivfpq") { tmp =>
        graft.io.Writers.parquet(ivfCentroids(v), s"$tmp/centroids")
        graft.io.Writers.parquet(cbBuild, s"$tmp/codebook")
        graft.io.Writers.parquetPartitioned(
          sub.select(col("vec_id"), col("m"), col("b"), col("label")),
          s"$tmp/codes", Seq("label"), targetFileCount = 4)
        val cent = s.read.parquet(s"$tmp/centroids")
        val cb = s.read.parquet(s"$tmp/codebook")
        val q = v.filter(col("vec_id") < 10)
        val wProbe = Window.partitionBy("query_id").orderBy(desc("d"), col("c_label"))
        val best = q.crossJoin(broadcast(cent))
          .select(col("vec_id").as("query_id"), col("c_label"),
            dotSeq(col("e"), col("c")).as("d"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") === 1)
          .select(col("query_id"), col("c_label").as("label"))
        // static pruning of the codes listing from the bounded probe set
        // (s23's pattern — only the probed label= dirs are opened; empty
        // probe set degenerates to the correct empty frame, see s23)
        val probed = best.select("label").distinct().collect().map(_.get(0))
        val codes = s.read.parquet(s"$tmp/codes")
          .where(col("label").isin(probed: _*))
        val lut = sub.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("m"), col("sub"))
          .join(broadcast(cb), Seq("m"))
          .select(col("query_id"), col("m"), col("b"),
            dotSeq(col("sub"), col("cb")).as("part"))
        val cl = codes.select(col("vec_id").as("neighbor_id"), col("m"),
            col("b"), col("label"))
          .join(broadcast(best), "label")
        val parts = (0 until M).map(m =>
          max(when(col("m") === m, col("part"))).as(s"p$m"))
        val adc = cl.join(broadcast(lut), Seq("query_id", "m", "b"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .groupBy("query_id", "neighbor_id")
          .agg(parts.head, parts.tail: _*)
          .select(col("query_id"), col("neighbor_id"),
            (0 until M).map(m => col(s"p$m")).reduce(_ + _).as("adc"))
        val wCand = Window.partitionBy("query_id").orderBy(desc("adc"), col("neighbor_id"))
        val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
        adc.withColumn("crank", row_number().over(wCand))
          .filter(col("crank") <= C)
          .join(v.select(col("vec_id").as("query_id"), col("e").as("qe")), "query_id")
          .join(v.select(col("vec_id").as("neighbor_id"), col("e").as("ce")), "neighbor_id")
          .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // PERSISTED TRAINED-QUANTIZER INDEX — the s23 lifecycle for the
    // LEARNED tier, completing the persisted family across all three
    // coarse quantizers (label s23, trained k-means here, IVFPQ s24):
    // the k-means fit runs once (the memoized Quantizer), its TRAINED
    // artifacts — centroids and the assignment postings under cid=
    // partitions — are written via io.Writers, and s11's search runs
    // entirely from the re-read artifacts (probe against re-read
    // centroids, candidate scan statically pruned to the probed cid
    // partitions, s23's bounded-collect pattern). Oracle = s11's
    // pinned SQL: a green row proves the trained index serves from
    // disk bit-identically — the FAISS train→write→load→search flow.
    "s25_kmeans_persisted" -> { (s, dir) =>
      val cent0 = Quantizer.centroids(s, dir)
      val asg0 = Quantizer.assignments(s, dir)
      val out = graft.io.Writers.withScratchDir(s, "s25_km") { tmp =>
        graft.io.Writers.parquet(cent0, s"$tmp/centroids")
        graft.io.Writers.parquetPartitioned(
          asg0.select(col("vec_id"), col("e"), col("cid")),
          s"$tmp/postings", Seq("cid"), targetFileCount = 4)
        val cent = s.read.parquet(s"$tmp/centroids")
        val q = asg0.filter(col("vec_id") < 10).select(col("vec_id"), col("e"))
        serveQuantizerArtifact(s, cent, s"$tmp/postings", q)
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // INCREMENTAL APPEND to the persisted trained index — the index-
    // MAINTENANCE half of the lifecycle s23/s24/s25 opened (their build
    // is one-shot; production corpora grow daily, and rebuilding a
    // 100 TB index per ingest batch is the one cost everyone avoids —
    // the FAISS add() / d14-incremental-dedup shape applied to ANN):
    //   1. BUILD  — the frozen trained quantizer (centroids) and the
    //      BASE ingest's postings (4 of 5 vectors) go to disk;
    //   2. APPEND — the DELTA batch (the held-out fifth, arriving as
    //      raw vectors with no cid) is assigned against the RE-READ
    //      centroid artifact — one broadcast-fold projection over the
    //      delta only — and APPENDED as new files under the existing
    //      cid= partition dirs; base postings are never read or
    //      rewritten, and the frozen centroids guarantee old
    //      assignments stay valid;
    //   3. SERVE  — s25's serve, from the MERGED listing.
    // Oracle = s11's pinned SQL (the full-corpus in-memory build):
    // a green row proves append-maintained index ≡ rebuilt index —
    // parquet round-trips centroids bit-exactly (PersistedIndexSpec)
    // and KMeans.assign's argmax fold is deterministic, so the delta's
    // from-disk assignment is bit-identical to the one the full build
    // would produce. At 100 TB the append job's cost is O(delta), the
    // serving cost is unchanged (pruned listing over the merged dirs),
    // and the accumulating small files are Writers.compact's job.
    "s26_ivf_append" -> { (s, dir) =>
      val cent0 = Quantizer.centroids(s, dir)
      val asg0 = Quantizer.assignments(s, dir)
      val out = graft.io.Writers.withScratchDir(s, "s26_app") { tmp =>
        // 1. build: frozen quantizer + base postings (vec_id % 5 != 0)
        graft.io.Writers.parquet(cent0, s"$tmp/centroids")
        graft.io.Writers.parquetPartitioned(
          asg0.filter(col("vec_id") % 5 =!= 0)
            .select(col("vec_id"), col("e"), col("cid")),
          s"$tmp/postings", Seq("cid"), targetFileCount = 4)
        // 2. append: the delta batch arrives RAW (no cid); assign it
        //    against the re-read frozen centroids and append under the
        //    existing cid= dirs (mode=append adds files, touches nothing)
        val centRe = s.read.parquet(s"$tmp/centroids")
        val delta = asg0.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("e"))
        graft.io.Writers.parquetPartitioned(
          graft.ops.KMeans.assign(delta, centRe)
            .select(col("vec_id"), col("e"), col("cid")),
          s"$tmp/postings", Seq("cid"), targetFileCount = 4, mode = "append")
        // 3. serve from the merged artifact — s25's serve (the shared
        //    serveQuantizerArtifact, reading the base ∪ delta listing)
        val q = asg0.filter(col("vec_id") < 10).select(col("vec_id"), col("e"))
        serveQuantizerArtifact(s, centRe, s"$tmp/postings", q)
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // ONLINE SERVING from the persisted trained index — the lifecycle
    // step s23–s26 still lacked: they build/maintain the artifact and
    // answer ONE static query batch in the same job; production ANN
    // serving is a continuous STREAM of probe batches against a frozen
    // artifact. The probe set arrives as three arrival slices
    // (maxFilesPerTrigger=1 → three real micro-batches, the e28
    // pattern); every batch is served straight from the RE-READ
    // artifact by the same serveQuantizerArtifact as s25/s26 (one
    // serve implementation, three lifecycles), and the answers land in
    // a batch-id-addressed parquet sink (writeBatchIdempotent: a
    // checkpoint replay overwrites its own generation → exactly-once).
    // Oracle = s11's pinned full-rebuild SQL: a green row proves
    // stream-served ∪ ≡ the one-shot batch serve — per-query top-k is
    // independent across probes, so slicing the probe set across
    // micro-batches cannot change any answer, and doubles round-trip
    // the probe parquet bit-exactly. At 100 TB: the artifact is frozen
    // (per-batch reads prune to the probed cid= inverted lists), the
    // per-batch driver collect is bounded by batch size, and the sink
    // is an append-only audit table vacuumed by generation.
    "s27_stream_ann_serve" -> { (s, dir) =>
      val cent0 = Quantizer.centroids(s, dir)
      val asg0 = Quantizer.assignments(s, dir)
      val out = graft.io.Writers.withScratchDir(s, "s27_serve") { tmp =>
        graft.io.Writers.parquet(cent0, s"$tmp/centroids")
        graft.io.Writers.parquetPartitioned(
          asg0.select(col("vec_id"), col("e"), col("cid")),
          s"$tmp/postings", Seq("cid"), targetFileCount = 4)
        val q0 = asg0.filter(col("vec_id") < 10).select(col("vec_id"), col("e"))
        (0 until 3).foreach { i =>
          q0.filter(pmod(col("vec_id"), lit(3)) === i)
            .coalesce(1).write.mode("overwrite").parquet(s"$tmp/probes/slice$i")
        }
        val schema = StructType(Seq(
          StructField("vec_id", LongType),
          StructField("e", ArrayType(DoubleType))))
        val probes = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1)
          .option("pathGlobFilter", "*.parquet")
          .parquet(s"$tmp/probes/slice*")
        // the server's resident state: centroids read from the artifact
        // once at startup (what a real serving process keeps in memory)
        val centRe = s.read.parquet(s"$tmp/centroids")
        graft.streaming.Streaming.drain(s) {
          probes.writeStream.foreachBatch {
            (batch: Dataset[Row], batchId: Long) =>
              graft.streaming.Streaming.writeBatchIdempotent(
                serveQuantizerArtifact(s, centRe, s"$tmp/postings", batch.toDF()),
                batchId, s"$tmp/out")
          }.option("checkpointLocation", s"$tmp/ckpt").start()
        }
        s.read.parquet(s"$tmp/out")
          .select("query_id", "rank", "neighbor_id", "cos")
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // PERSISTED SIGN-LSH INDEX — the s23 lifecycle applied to the last
    // tier that still rebuilt per job (VERDICT r10 #2): s02/s16 derive
    // hyperplane buckets from compiled-in literals every run; a
    // production LSH index ships its hyperplanes WITH its postings so
    // any serving process — including one built from a different code
    // version — reproduces the same buckets. BUILD writes the
    // hyperplane table (j, w = 2^j, hp — a k-row broadcast dim) and the
    // bucket-PARTITIONED postings; SERVE recomputes each query's bucket
    // from the RE-READ hyperplanes (one row per (query, plane), integer
    // bit-sum — bit-identical to lshBucket because the hyperplane
    // doubles round-trip parquet exactly), statically prunes the
    // postings listing to the probed buckets (s23's bounded-collect
    // pattern; empty probe set degenerates to the correct empty frame),
    // and ranks within bucket. Oracle = s02's pinned SQL: a green row
    // proves buckets-from-disk ≡ buckets-from-literals. At 100 TB the
    // postings are hive-partitioned inverted lists (the pruned listing
    // IS the bucket seek) and serving never touches the corpus.
    "s28_lsh_persisted" -> { (s, dir) =>
      val v = vecsNorm(s, dir).withColumn("bucket", lshBucket(col("e")))
        .localCheckpoint()
      val planes = s.createDataFrame(
        (0 until LshPlanes).map(j => (j, 1L << j, hyperplaneN(j, LshDim))))
        .toDF("j", "w", "hp")
      val out = graft.io.Writers.withScratchDir(s, "s28_lsh") { tmp =>
        graft.io.Writers.parquet(planes, s"$tmp/hyperplanes")
        graft.io.Writers.parquetPartitioned(
          v.select(col("vec_id"), col("e"), col("bucket")),
          s"$tmp/postings", Seq("bucket"), targetFileCount = 4)
        val planesRe = s.read.parquet(s"$tmp/hyperplanes")
        val q = v.filter(col("vec_id") < 10).select(col("vec_id"), col("e"))
        // bucket from the ARTIFACT: sign of each re-read hyperplane dot,
        // weighted by the stored 2^j — int-typed to match the hive
        // partition column the postings come back with
        val qb = q.crossJoin(broadcast(planesRe))
          .select(col("vec_id"),
            when(dotSeq(col("hp"), col("e")) > 0.0, col("w"))
              .otherwise(lit(0L)).as("bit"))
          .groupBy("vec_id").agg(sum("bit").cast(IntegerType).as("bucket"))
        val probes = q.join(qb, "vec_id")
        val probed = probes.select("bucket").distinct().collect().map(_.get(0))
        // r14 (VERDICT r13 item 6): read ONLY the probed bucket= dirs —
        // the isin-filtered whole-table read still LISTED all 2^7
        // bucket dirs before pruning (measured ~0.5-0.8 s of
        // InMemoryFileIndex listing on this row; at scale an inverted-
        // list serve must never list the full index). basePath keeps
        // the hive partition column in the schema; the isin filter
        // stays as a semantic no-op guard. Empty probe set keeps the
        // old path (zero-path read is not expressible), which the
        // empty isin makes false-for-all — same correct empty frame.
        val post = (if (probed.isEmpty) s.read.parquet(s"$tmp/postings")
          else s.read.option("basePath", s"$tmp/postings")
            .parquet(probed.map(b => s"$tmp/postings/bucket=$b"): _*))
          .where(col("bucket").isin(probed: _*))
        val w = Window.partitionBy("query_id").orderBy(desc("c"), col("neighbor_id"))
        probes.select(col("vec_id").as("query_id"), col("e").as("qe"), col("bucket"))
          .join(post.select(col("bucket"), col("vec_id").as("neighbor_id"),
            col("e").as("ce")), "bucket")
          .filter(col("neighbor_id") =!= col("query_id"))
          .select(col("query_id"), col("neighbor_id"), dotSeq(col("qe"), col("ce")).as("c"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"), round6(col("c")).as("cos"))
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // COMPACTION closing the maintenance loop (VERDICT r11 #1): s26
    // proves append ≡ rebuild, but every append leaves one more small
    // file under each cid= dir — at a daily ingest cadence the listing/
    // footer overhead grows without bound until a maintenance pass
    // rewrites the table (the lakehouse OPTIMIZE step). This row runs
    // the FULL lifecycle: build base postings → append the delta shard
    // (s26's steps, verbatim) → Writers.compactPartitioned rewrites the
    // fragmented artifact into one file per cid= dir (partition-
    // PRESERVING — a flat compact would dissolve the layout and with it
    // the pruned serve) → s25's serve runs from the COMPACTED copy.
    // Oracle = s11's pinned full-rebuild SQL unchanged, so a green row
    // proves append → compact → serve ≡ serve: compaction moves bytes,
    // never values (longs and doubles round-trip parquet exactly), and
    // the serve still prunes to the probed cid dirs. WritersSpec pins
    // the mechanical half (file count provably shrinks, layout intact).
    // At 100 TB: the compact job is one hash exchange over the artifact
    // (not the corpus), runs off the serve path at append cadence, and
    // buys back every subsequent probe's listing time.
    "s29_ivf_compacted" -> { (s, dir) =>
      val cent0 = Quantizer.centroids(s, dir)
      val asg0 = Quantizer.assignments(s, dir)
      val out = graft.io.Writers.withScratchDir(s, "s29_cmp") { tmp =>
        // 1-2. build + append — s26's fragmentation-accumulating steps
        graft.io.Writers.parquet(cent0, s"$tmp/centroids")
        graft.io.Writers.parquetPartitioned(
          asg0.filter(col("vec_id") % 5 =!= 0)
            .select(col("vec_id"), col("e"), col("cid")),
          s"$tmp/postings", Seq("cid"), targetFileCount = 4)
        val centRe = s.read.parquet(s"$tmp/centroids")
        val delta = asg0.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id"), col("e"))
        graft.io.Writers.parquetPartitioned(
          graft.ops.KMeans.assign(delta, centRe)
            .select(col("vec_id"), col("e"), col("cid")),
          s"$tmp/postings", Seq("cid"), targetFileCount = 4, mode = "append")
        // 3. MAINTENANCE: rewrite the fragmented postings into one file
        //    per cid= partition; production swaps the directory at the
        //    manifest level, here the serve just reads the new path
        graft.io.Writers.compactPartitioned(
          s, s"$tmp/postings", s"$tmp/postings_compacted", Seq("cid"),
          targetFileCount = 1)
        // 4. serve from the COMPACTED artifact — s25's serve unchanged
        val q = asg0.filter(col("vec_id") < 10).select(col("vec_id"), col("e"))
        serveQuantizerArtifact(s, centRe, s"$tmp/postings_compacted", q)
          .localCheckpoint()
      }
      out.orderBy("query_id", "rank")
    },

    // HYBRID retrieval by reciprocal-rank fusion (Cormack et al.,
    // SIGIR'09): the production RAG shape — one lexical ranking (the
    // pinned t08 BM25 scorer over the fixed query-term set) and one
    // semantic ranking (cosine against query vec 0, the term set's
    // embedding stand-in; doc_id ≡ vec_id in this corpus) fused by
    // rrf = Σ_legs 1/(60 + rank). Neither score scale is comparable —
    // RRF deliberately uses only RANKS, which is why it needs no
    // per-leg calibration and why it replays exactly: each reciprocal
    // is the INTEGER 10¹² div (60+rank), so the fused score is a long
    // sum, engine-identical (the s09 integer-sixths trick). Doc 0 (the
    // pseudo-query) is excluded from both legs. Scale shape: each leg
    // is its own distributed retrieval (BM25 touches only term-matching
    // rows; the cosine leg is one corpus scan) delivering a top-C
    // candidate list via TakeOrdered — the rank windows then run over
    // C=20 bounded rows (single tiny partition by design, the s14
    // candidate-set contract), and the fusion join is C-row × C-row.
    "s15_rrf_hybrid" -> { (s, dir) =>
      val C = 20
      val K = 60L
      val RrfScale = 1000000000000L
      val wLex = Window.orderBy(desc("bm25"), col("doc_id"))
      val lex = TextQueries.queries("t08_bm25")(s, dir)
        .filter(col("doc_id") =!= 0)
        .orderBy(desc("bm25"), col("doc_id")).limit(C)
        .select(col("doc_id"), row_number().over(wLex).cast("int").as("lex_rank"))
      val v = vecsNorm(s, dir)
      val q = broadcast(v.filter(col("vec_id") === 0).select(col("e").as("qe")))
      val wSem = Window.orderBy(desc("rel"), col("doc_id"))
      val sem = v.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id").as("doc_id"), dotSeq(col("e"), col("qe")).as("rel"))
        .orderBy(desc("rel"), col("doc_id")).limit(C)
        .select(col("doc_id"), row_number().over(wSem).cast("int").as("sem_rank"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          (coalesce(expr(s"$RrfScale div ($K + lex_rank)"), lit(0L)) +
            coalesce(expr(s"$RrfScale div ($K + sem_rank)"), lit(0L))).as("rrf"))
        .orderBy(desc("rrf"), col("doc_id")).limit(10)
    },

    "s14_mmr_diverse" -> { (s, dir) =>
      val v = vecsNorm(s, dir)
      val q = broadcast(v.filter(col("vec_id") === 0).select(col("e").as("qe")))
      val cand = v.filter(col("vec_id") =!= 0).crossJoin(q)
        .select(col("vec_id"), col("e"), dotSeq(col("e"), col("qe")).as("rel"))
        .orderBy(desc("rel"), col("vec_id")).limit(20)
        .localCheckpoint()
      val sims = cand.select(col("vec_id").as("va"), col("e").as("ea"))
        .join(broadcast(cand.select(col("vec_id").as("vb"), col("e").as("eb"))),
          col("va") =!= col("vb"))
        .select(col("va"), col("vb"), dotSeq(col("ea"), col("eb")).as("s"))
        .localCheckpoint()
      var selected = cand
        .select(col("vec_id"), col("rel"), (col("rel") * 0.7).as("score"))
        .orderBy(desc("score"), col("vec_id")).limit(1)
        .withColumn("pick", lit(1)).localCheckpoint()
      (2 to 5).foreach { i =>
        val selIds = selected.select(col("vec_id").as("vb"))
        val pick = cand
          .join(selected.select("vec_id"), Seq("vec_id"), "left_anti")
          .join(sims, col("vec_id") === col("va"))
          .join(broadcast(selIds), "vb")
          .groupBy(col("vec_id"), col("rel"))
          .agg(max("s").as("ms"))
          .select(col("vec_id"), col("rel"),
            (col("rel") * 0.7 - col("ms") * 0.3).as("score"))
          .orderBy(desc("score"), col("vec_id")).limit(1)
          .withColumn("pick", lit(i))
        selected = selected.unionByName(pick).localCheckpoint()
      }
      selected.select(col("pick").cast("int").as("pick"), col("vec_id"),
        round6(col("rel")).as("rel"), round6(col("score")).as("score"))
        .orderBy("pick")
    }
  )

  val oracleSql: Map[String, String] = {
    val dqc = sqlDotSeq("q.e", "c.e")
    val norm = sqlL2Normalize("embedding::DOUBLE[]")
    val bucketExpr = (0 until LshPlanes).map { j =>
      val hp = sqlHyperplane(j)
      s"(CASE WHEN ${sqlDotSeq(hp, "e")} > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val s01Sql =
      s"""WITH v AS (SELECT vec_id, $norm AS e FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
         |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    val s05Sql = {
      val subBucket = (0 until LshPlanes).map { j =>
        s"(CASE WHEN ${sqlDotSeqN(sqlHyperplaneN(j, 16), "sub", 16)} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val lutDot = sqlDotSeqN("q.sub", "cb.cb", 16)
      val rrDot = sqlDotSeq("qv.e", "cv.e")
      s"""WITH v AS (SELECT vec_id, $norm AS e FROM embeddings),
         |sub0 AS (
         |  SELECT vec_id, m, list_slice(e, m * 16 + 1, m * 16 + 16) AS sub
         |  FROM v, (SELECT unnest(range(0, 4)) AS m) ms),
         |sb AS (SELECT vec_id, m, sub, $subBucket AS b FROM sub0),
         |pos AS (
         |  SELECT m, b, i, sub[i] AS x
         |  FROM sb, (SELECT unnest(range(1, 17)) AS i) idx),
         |cbd AS (
         |  SELECT m, b, i,
         |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
         |  FROM pos GROUP BY m, b, i),
         |cb AS (SELECT m, b, list(cx ORDER BY i) AS cb FROM cbd GROUP BY m, b),
         |lut AS (
         |  SELECT q.vec_id AS query_id, cb.m, cb.b, $lutDot AS part
         |  FROM sb q JOIN cb ON q.m = cb.m WHERE q.vec_id < 10),
         |adc AS (
         |  SELECT query_id, s.vec_id AS neighbor_id,
         |    max(CASE WHEN s.m = 0 THEN part END) AS p0,
         |    max(CASE WHEN s.m = 1 THEN part END) AS p1,
         |    max(CASE WHEN s.m = 2 THEN part END) AS p2,
         |    max(CASE WHEN s.m = 3 THEN part END) AS p3
         |  FROM sb s JOIN lut ON s.m = lut.m AND s.b = lut.b
         |    AND s.vec_id <> lut.query_id
         |  GROUP BY query_id, s.vec_id),
         |cand AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (p0 + p1 + p2 + p3) DESC, neighbor_id) AS crank
         |  FROM adc),
         |rr AS (
         |  SELECT ca.query_id, ca.neighbor_id, $rrDot AS c
         |  FROM cand ca
         |  JOIN v qv ON qv.vec_id = ca.query_id
         |  JOIN v cv ON cv.vec_id = ca.neighbor_id
         |  WHERE ca.crank <= 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM rr)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }
    // s02's shape with the query side exploded to 9 probe buckets
    // (own + every single-bit flip); candidates stay equi-joined
    val s16Sql = {
      val flips = "bucket" +:
        (0 until LshPlanes).map(j => s"xor(bucket, ${1L << j})")
      s"""WITH v AS (
         |  SELECT vec_id, e, $bucketExpr AS bucket
         |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
         |qp AS (
         |  SELECT vec_id, e,
         |    unnest([${flips.mkString(", ")}]) AS bucket2
         |  FROM v WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
         |  FROM qp q JOIN v c
         |    ON q.bucket2 = c.bucket AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }
    // s03's coarse probe (label centroids, nprobe=1) + s05's PQ ADC,
    // with the candidate scan restricted to the probed cluster
    val s18Sql = {
      val subBucket = (0 until LshPlanes).map { j =>
        s"(CASE WHEN ${sqlDotSeqN(sqlHyperplaneN(j, 16), "sub", 16)} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val lutDot = sqlDotSeqN("q.sub", "cb.cb", 16)
      val rrDot = sqlDotSeq("qv.e", "cv.e")
      s"""WITH v AS (SELECT vec_id, label, $norm AS e FROM embeddings),
         |pos AS (
         |  SELECT label, i AS pos, e[i] AS x
         |  FROM v, (SELECT unnest(range(1, $LshDim + 1)) AS i) idx),
         |cd AS (
         |  SELECT label, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
         |  FROM pos GROUP BY label, pos),
         |cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label),
         |probe AS (
         |  SELECT q.vec_id AS query_id, cent.label,
         |         ${sqlDotSeq("q.e", "cent.c")} AS d
         |  FROM v q, cent WHERE q.vec_id < 10),
         |best AS (
         |  SELECT query_id, label FROM (
         |    SELECT query_id, label,
         |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, label) AS rn
         |    FROM probe) WHERE rn = 1),
         |sub0 AS (
         |  SELECT vec_id, label, m, list_slice(e, m * 16 + 1, m * 16 + 16) AS sub
         |  FROM v, (SELECT unnest(range(0, 4)) AS m) ms),
         |sb AS (SELECT vec_id, label, m, sub, $subBucket AS b FROM sub0),
         |pos2 AS (
         |  SELECT m, b, i, sub[i] AS x
         |  FROM sb, (SELECT unnest(range(1, 17)) AS i) idx),
         |cbd AS (
         |  SELECT m, b, i,
         |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
         |  FROM pos2 GROUP BY m, b, i),
         |cb AS (SELECT m, b, list(cx ORDER BY i) AS cb FROM cbd GROUP BY m, b),
         |lut AS (
         |  SELECT q.vec_id AS query_id, cb.m, cb.b, $lutDot AS part
         |  FROM sb q JOIN cb ON q.m = cb.m WHERE q.vec_id < 10),
         |adc AS (
         |  SELECT l.query_id, s.vec_id AS neighbor_id,
         |    max(CASE WHEN s.m = 0 THEN part END) AS p0,
         |    max(CASE WHEN s.m = 1 THEN part END) AS p1,
         |    max(CASE WHEN s.m = 2 THEN part END) AS p2,
         |    max(CASE WHEN s.m = 3 THEN part END) AS p3
         |  FROM sb s
         |  JOIN best bt ON s.label = bt.label
         |  JOIN lut l ON l.query_id = bt.query_id AND s.m = l.m AND s.b = l.b
         |    AND s.vec_id <> l.query_id
         |  GROUP BY l.query_id, s.vec_id),
         |cand AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (p0 + p1 + p2 + p3) DESC, neighbor_id) AS crank
         |  FROM adc),
         |rr AS (
         |  SELECT ca.query_id, ca.neighbor_id, $rrDot AS c
         |  FROM cand ca
         |  JOIN v qv ON qv.vec_id = ca.query_id
         |  JOIN v cv ON cv.vec_id = ca.neighbor_id
         |  WHERE ca.crank <= 10),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM rr)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }
    val s02Sql =
      s"""WITH v AS (
         |  SELECT vec_id, e, $bucketExpr AS bucket
         |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
         |  FROM v q JOIN v c
         |    ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    val s03Sql = {
      val dqc2 = sqlDotSeq("qv.e", "cv.e")
      s"""WITH v AS (SELECT vec_id, label, $norm AS e FROM embeddings),
         |pos AS (
         |  SELECT label, i AS pos, e[i] AS x
         |  FROM v, (SELECT unnest(range(1, $LshDim + 1)) AS i) idx),
         |cd AS (
         |  SELECT label, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
         |  FROM pos GROUP BY label, pos),
         |cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label),
         |probe AS (
         |  SELECT q.vec_id AS query_id, cent.label,
         |         ${sqlDotSeq("q.e", "cent.c")} AS d
         |  FROM v q, cent WHERE q.vec_id < 10),
         |best AS (
         |  SELECT query_id, label AS best_label FROM (
         |    SELECT query_id, label,
         |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, label) AS rn
         |    FROM probe) WHERE rn = 1),
         |scored AS (
         |  SELECT b.query_id, cv.vec_id AS neighbor_id, $dqc2 AS c
         |  FROM best b
         |  JOIN v qv ON qv.vec_id = b.query_id
         |  JOIN v cv ON cv.label = b.best_label AND cv.vec_id <> b.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }
    // MRR composes one nn1 probe with each pinned tier SQL — the only
    // new SQL is the reciprocal-rank arithmetic, in integer sixths
    def mrrLeg(tier: String, cte: String): String =
      s"""SELECT '$tier' AS tier, count(*) AS n_queries, count(a.rank) AS n_found,
         |    floor((CAST(sum(COALESCE(6 // a.rank, 0)) AS DOUBLE) / (count(*) * 6.0)) * 1000000.0 + 0.5) / 1000000.0 AS mrr
         |  FROM nn1 LEFT JOIN $cte a USING (query_id, neighbor_id)""".stripMargin
    val s10Sql = {
      val dqc2 = sqlDotSeq("qv.e", "cv.e")
      s"""WITH v AS (SELECT vec_id, label, $norm AS e FROM embeddings),
         |pos AS (
         |  SELECT label, i AS pos, e[i] AS x
         |  FROM v, (SELECT unnest(range(1, $LshDim + 1)) AS i) idx),
         |cd AS (
         |  SELECT label, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
         |  FROM pos GROUP BY label, pos),
         |cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label),
         |probe AS (
         |  SELECT q.vec_id AS query_id, cent.label,
         |         ${sqlDotSeq("q.e", "cent.c")} AS d
         |  FROM v q, cent WHERE q.vec_id < 10),
         |pr AS (
         |  SELECT query_id, label,
         |         row_number() OVER (PARTITION BY query_id ORDER BY d DESC, label) AS rn
         |  FROM probe),
         |cfg(p) AS (VALUES (1), (2), (4)),
         |probed AS (SELECT p, query_id, label FROM pr CROSS JOIN cfg WHERE rn <= p),
         |scored AS (
         |  SELECT pb.p, pb.query_id, cv.vec_id AS neighbor_id, $dqc2 AS c
         |  FROM probed pb
         |  JOIN v qv ON qv.vec_id = pb.query_id
         |  JOIN v cv ON cv.label = pb.label AND cv.vec_id <> pb.query_id),
         |cand AS (SELECT p, count(*) AS n_candidates FROM scored GROUP BY p),
         |atop AS (
         |  SELECT p, query_id, neighbor_id FROM (
         |    SELECT p, query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY p, query_id ORDER BY c DESC, neighbor_id) AS r
         |    FROM scored) WHERE r <= 3),
         |ex_top AS (SELECT query_id, neighbor_id FROM ($s01Sql)),
         |ex_n AS (SELECT count(*) AS n_exact FROM ex_top),
         |hits AS (
         |  SELECT p, count(*) AS hits FROM atop
         |  JOIN ex_top USING (query_id, neighbor_id) GROUP BY p)
         |SELECT CAST(cand.p AS INT) AS nprobe, cand.n_candidates,
         |  CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits, ex_n.n_exact,
         |  floor((CAST(COALESCE(hits.hits, 0) AS DOUBLE) / CAST(ex_n.n_exact AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall_at_3
         |FROM cand LEFT JOIN hits ON cand.p = hits.p CROSS JOIN ex_n
         |ORDER BY nprobe""".stripMargin
    }
    val s11Sql = {
      val dqc2 = sqlDotSeq("qv.e", "cv.e")
      s"""WITH ${Quantizer.sqlCtes},
         |probe AS (
         |  SELECT q.vec_id AS query_id, c.cid, ${sqlDotSeq("q.e", "c.c")} AS d
         |  FROM v q, ${Quantizer.sqlCentFinal} c WHERE q.vec_id < 10),
         |best AS (
         |  SELECT query_id, cid FROM (
         |    SELECT query_id, cid,
         |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cid) AS rn
         |    FROM probe) WHERE rn = 1),
         |scored AS (
         |  SELECT b.query_id, av.vec_id AS neighbor_id, $dqc2 AS c
         |  FROM best b
         |  JOIN v qv ON qv.vec_id = b.query_id
         |  JOIN akm av ON av.cid = b.cid AND av.vec_id <> b.query_id
         |  JOIN v cv ON cv.vec_id = av.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, c,
         |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    }
    Map(
      "s01_cosine_topk" -> s01Sql,
      "s11_kmeans_topk" -> s11Sql,
      // composes the three pinned tier oracles; the recall arithmetic is
      // the only new SQL
      "s12_quantizer_recall" ->
        s"""WITH ex_top AS (SELECT query_id, neighbor_id FROM ($s01Sql)),
           |km AS (SELECT query_id, neighbor_id FROM ($s11Sql)),
           |lab AS (SELECT query_id, neighbor_id FROM ($s03Sql)),
           |exn AS (SELECT count(*) AS n_exact FROM ex_top),
           |m AS (
           |  SELECT 'ivf_kmeans' AS quantizer, count(*) AS hits
           |  FROM ex_top JOIN km USING (query_id, neighbor_id)
           |  UNION ALL
           |  SELECT 'ivf_label', count(*)
           |  FROM ex_top JOIN lab USING (query_id, neighbor_id))
           |SELECT quantizer, n_exact, hits,
           |  floor((CAST(hits AS DOUBLE) / CAST(n_exact AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall_at_3
           |FROM m CROSS JOIN exn ORDER BY quantizer""".stripMargin,
      "s02_lsh_topk" -> s02Sql,
      "s16_mplsh_topk" -> s16Sql,
      "s18_ivfpq_topk" -> s18Sql,
      // same bucket assignment as s02; two integer aggregates
      "s19_lsh_histogram" ->
        s"""WITH v AS (
           |  SELECT vec_id, $bucketExpr AS bucket
           |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
           |per AS (SELECT bucket, count(*) AS sz FROM v GROUP BY bucket)
           |SELECT sz, count(*) AS n_buckets, CAST(sz * count(*) AS BIGINT) AS vectors
           |FROM per GROUP BY sz ORDER BY sz""".stripMargin,
      // same exact/bucketed top-10 passes; the four k-points fold from
      // one pass over the joined ranks, possible = k × |queries|
      "s22_recall_curve" ->
        s"""WITH v AS (SELECT vec_id, $norm AS e FROM embeddings),
           |ex_scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
           |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ex AS (
           |  SELECT query_id, neighbor_id, r FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r
           |    FROM ex_scored) WHERE r <= 10),
           |b AS (
           |  SELECT vec_id, e, $bucketExpr AS bucket
           |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
           |ap_scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
           |  FROM b q JOIN b c
           |    ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ap AS (
           |  SELECT query_id, neighbor_id, r FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r
           |    FROM ap_scored) WHERE r <= 10),
           |j AS (
           |  SELECT ex.r AS er, ap.r AS ar
           |  FROM ex JOIN ap USING (query_id, neighbor_id)),
           |nq AS (SELECT count(DISTINCT query_id) AS nq FROM ex),
           |ks AS (SELECT CAST(unnest([1, 3, 5, 10]) AS BIGINT) AS k),
           |h AS (
           |  SELECT ks.k,
           |    CAST(coalesce(sum(CASE WHEN er <= ks.k AND ar <= ks.k THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
           |  FROM ks LEFT JOIN j ON true GROUP BY ks.k)
           |SELECT k, hits, CAST(k * nq AS BIGINT) AS possible,
           |  floor((CAST(hits AS DOUBLE) / CAST(k * nq AS DOUBLE)) * 1000000.0 + 0.5)
           |    / 1000000.0 AS recall
           |FROM h CROSS JOIN nq ORDER BY k""".stripMargin,
      // s02's bucketed candidate join with the τ filter in place of
      // the rank window; the τ compare sees the same sequential-fold
      // dot bits as Spark, round6 only on display
      "s20_range_search" ->
        s"""WITH v AS (
           |  SELECT vec_id, e, $bucketExpr AS bucket
           |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
           |  FROM v q JOIN v c
           |    ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id)
           |SELECT query_id, neighbor_id,
           |  floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
           |FROM scored WHERE c >= $RangeTau
           |ORDER BY query_id, neighbor_id""".stripMargin,
      // exact radius scan vs the s20 bucketed path, s06's recall tail
      "s21_range_recall" ->
        s"""WITH v AS (SELECT vec_id, $norm AS e FROM embeddings),
           |ex AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
           |  WHERE $dqc >= $RangeTau),
           |b AS (
           |  SELECT vec_id, e, $bucketExpr AS bucket
           |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
           |ap AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
           |  FROM b q JOIN b c
           |    ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id
           |  WHERE $dqc >= $RangeTau),
           |hit AS (
           |  SELECT query_id, count(*) AS hits FROM (
           |    SELECT * FROM ex INTERSECT SELECT * FROM ap)
           |  GROUP BY query_id),
           |ex_n AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id)
           |SELECT query_id, n_exact, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           |  floor((CAST(coalesce(hits, 0) AS DOUBLE) / n_exact) * 1000000.0 + 0.5) / 1000000.0 AS recall
           |FROM ex_n LEFT JOIN hit USING (query_id)
           |ORDER BY query_id""".stripMargin,
      // composes the pinned s01/s16 SQL (the s08 anti-drift pattern)
      "s17_mplsh_recall" ->
        s"""WITH ex_top AS (SELECT query_id, neighbor_id FROM ($s01Sql)),
           |ap_top AS (SELECT query_id, neighbor_id FROM ($s16Sql)),
           |hit AS (
           |  SELECT query_id, count(*) AS hits FROM (
           |    SELECT * FROM ex_top INTERSECT SELECT * FROM ap_top)
           |  GROUP BY query_id),
           |ex_n AS (SELECT query_id, count(*) AS n_exact FROM ex_top GROUP BY query_id)
           |SELECT query_id, n_exact, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           |  floor((CAST(coalesce(hits, 0) AS DOUBLE) / n_exact) * 1000000.0 + 0.5) / 1000000.0 AS recall
           |FROM ex_n LEFT JOIN hit USING (query_id)
           |ORDER BY query_id""".stripMargin,
      "s10_ivf_nprobe" -> s10Sql,
      "s09_ann_mrr" ->
        s"""WITH nn1 AS (SELECT query_id, neighbor_id FROM ($s01Sql) WHERE rank = 1),
           |alsh AS (SELECT query_id, neighbor_id, rank FROM ($s02Sql)),
           |aivf AS (SELECT query_id, neighbor_id, rank FROM ($s03Sql)),
           |apq AS (SELECT query_id, neighbor_id, rank FROM ($s05Sql)),
           |m AS (
           |  ${mrrLeg("ivf", "aivf")}
           |  UNION ALL
           |  ${mrrLeg("lsh", "alsh")}
           |  UNION ALL
           |  ${mrrLeg("pq", "apq")})
           |SELECT tier, n_queries, n_found, mrr FROM m ORDER BY tier""".stripMargin,
      "s04_sq8_topk" -> {
        val qdot = sqlDotSeq("q.q", "c.q")
        val rdot = sqlDotSeq("qe", "ce")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS x, $norm AS e FROM embeddings),
           |pos AS (
           |  SELECT i, min(x[i]) AS mn, max(x[i]) AS mx
           |  FROM v, (SELECT unnest(range(1, $LshDim + 1)) AS i) idx GROUP BY i),
           |st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM pos),
           |qv AS (
           |  SELECT vec_id, e,
           |    list_transform(range(1, $LshDim + 1), d ->
           |      CAST(least(255, greatest(0,
           |        floor((x[d] - mns[d]) / (mxs[d] - mns[d]) * 255.0))) AS DOUBLE)) AS q
           |  FROM v, st),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |         $qdot AS qscore, q.e AS qe, c.e AS ce
           |  FROM qv q JOIN qv c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |cand AS (
           |  SELECT query_id, neighbor_id, qe, ce,
           |         row_number() OVER (PARTITION BY query_id ORDER BY qscore DESC, neighbor_id) AS crank
           |  FROM scored),
           |rr AS (SELECT query_id, neighbor_id, $rdot AS c FROM cand WHERE crank <= 10),
           |ranked AS (
           |  SELECT query_id, neighbor_id, c,
           |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
           |  FROM rr)
           |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
           |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
      },
      "s06_lsh_recall" ->
        s"""WITH v AS (SELECT vec_id, $norm AS e FROM embeddings),
           |ex_scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
           |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ex_top AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r
           |    FROM ex_scored) WHERE r <= 3),
           |b AS (
           |  SELECT vec_id, e, $bucketExpr AS bucket
           |  FROM (SELECT vec_id, $norm AS e FROM embeddings)),
           |ap_scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
           |  FROM b q JOIN b c
           |    ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ap_top AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r
           |    FROM ap_scored) WHERE r <= 3),
           |hit AS (
           |  SELECT query_id, count(*) AS hits FROM (
           |    SELECT * FROM ex_top INTERSECT SELECT * FROM ap_top)
           |  GROUP BY query_id),
           |ex_n AS (SELECT query_id, count(*) AS n_exact FROM ex_top GROUP BY query_id)
           |SELECT query_id, n_exact, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           |  floor((CAST(coalesce(hits, 0) AS DOUBLE) / n_exact) * 1000000.0 + 0.5) / 1000000.0 AS recall
           |FROM ex_n LEFT JOIN hit USING (query_id)
           |ORDER BY query_id""".stripMargin,
      "s05_pq_topk" -> s05Sql,
      // PQ recall: composes the two already-pinned per-tier oracles as
      // subqueries — the recall arithmetic is the only new SQL, so the
      // row can't drift from the tiers it evaluates.
      "s08_pq_recall" ->
        s"""WITH ex_top AS (SELECT query_id, neighbor_id FROM ($s01Sql)),
           |ap_top AS (SELECT query_id, neighbor_id FROM ($s05Sql)),
           |hit AS (
           |  SELECT query_id, count(*) AS hits FROM (
           |    SELECT * FROM ex_top INTERSECT SELECT * FROM ap_top)
           |  GROUP BY query_id),
           |ex_n AS (SELECT query_id, count(*) AS n_exact FROM ex_top GROUP BY query_id)
           |SELECT query_id, n_exact, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           |  floor((CAST(coalesce(hits, 0) AS DOUBLE) / n_exact) * 1000000.0 + 0.5) / 1000000.0 AS recall
           |FROM ex_n LEFT JOIN hit USING (query_id)
           |ORDER BY query_id""".stripMargin,
      "s07_ivf_recall" -> {
        val dqc2 = sqlDotSeq("qv.e", "cv.e")
        s"""WITH v AS (SELECT vec_id, label, $norm AS e FROM embeddings),
           |ex_scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dqc AS c
           |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ex_top AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r
           |    FROM ex_scored) WHERE r <= 3),
           |pos AS (
           |  SELECT label, i AS pos, e[i] AS x
           |  FROM v, (SELECT unnest(range(1, $LshDim + 1)) AS i) idx),
           |cd AS (
           |  SELECT label, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
           |  FROM pos GROUP BY label, pos),
           |cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label),
           |probe AS (
           |  SELECT q.vec_id AS query_id, cent.label,
           |         ${sqlDotSeq("q.e", "cent.c")} AS d
           |  FROM v q, cent WHERE q.vec_id < 10),
           |best AS (
           |  SELECT query_id, label AS best_label FROM (
           |    SELECT query_id, label,
           |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, label) AS rn
           |    FROM probe) WHERE rn = 1),
           |ap_scored AS (
           |  SELECT b.query_id, cv.vec_id AS neighbor_id, $dqc2 AS c
           |  FROM best b
           |  JOIN v qv ON qv.vec_id = b.query_id
           |  JOIN v cv ON cv.label = b.best_label AND cv.vec_id <> b.query_id),
           |ap_top AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS r
           |    FROM ap_scored) WHERE r <= 3),
           |hit AS (
           |  SELECT query_id, count(*) AS hits FROM (
           |    SELECT * FROM ex_top INTERSECT SELECT * FROM ap_top)
           |  GROUP BY query_id),
           |ex_n AS (SELECT query_id, count(*) AS n_exact FROM ex_top GROUP BY query_id)
           |SELECT query_id, n_exact, CAST(coalesce(hits, 0) AS BIGINT) AS hits,
           |  floor((CAST(coalesce(hits, 0) AS DOUBLE) / n_exact) * 1000000.0 + 0.5) / 1000000.0 AS recall
           |FROM ex_n LEFT JOIN hit USING (query_id)
           |ORDER BY query_id""".stripMargin
      },
      "s03_ivf_topk" -> s03Sql,
      // the persisted-index rows re-serve the pinned tier SQL: a green
      // row = index-from-disk ≡ index-in-memory
      "s23_ivf_persisted" -> s03Sql,
      "s24_ivfpq_persisted" -> s18Sql,
      "s25_kmeans_persisted" -> s11Sql,
      // the append row re-serves s11's SQL too: a green row = the
      // incrementally-maintained index (base build + delta append,
      // served from disk) ≡ the full in-memory rebuild
      "s26_ivf_append" -> s11Sql,
      // online serving re-serves s11's SQL as well: a green row = the
      // micro-batch-sliced stream served from the frozen artifact ≡
      // the one-shot batch serve ≡ the in-memory rebuild
      "s27_stream_ann_serve" -> s11Sql,
      // the compaction row re-serves s11's SQL once more: a green row =
      // append → compact → serve ≡ serve (compaction moves bytes, never
      // values; the partition-preserving rewrite keeps the pruned serve)
      "s29_ivf_compacted" -> s11Sql,
      // the persisted sign-LSH row re-serves s02's SQL: hyperplane
      // doubles round-trip parquet bit-exactly, so buckets-from-disk ≡
      // buckets-from-literals and the serve is s02's arithmetic
      "s28_lsh_persisted" -> s02Sql,
      // s03's probe/search shape with nprobe=2 and the parity predicate
      // applied to cluster MEMBERS (cv), never to queries or centroids
      "s13_filtered_ann" -> {
        val dqc2 = sqlDotSeq("qv.e", "cv.e")
        s"""WITH v AS (SELECT vec_id, label, $norm AS e FROM embeddings),
           |pos AS (
           |  SELECT label, i AS pos, e[i] AS x
           |  FROM v, (SELECT unnest(range(1, $LshDim + 1)) AS i) idx),
           |cd AS (
           |  SELECT label, pos,
           |    CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS cx
           |  FROM pos GROUP BY label, pos),
           |cent AS (SELECT label, list(cx ORDER BY pos) AS c FROM cd GROUP BY label),
           |probe AS (
           |  SELECT q.vec_id AS query_id, cent.label,
           |         ${sqlDotSeq("q.e", "cent.c")} AS d
           |  FROM v q, cent WHERE q.vec_id < 10),
           |best AS (
           |  SELECT query_id, label AS probe_label FROM (
           |    SELECT query_id, label,
           |           row_number() OVER (PARTITION BY query_id ORDER BY d DESC, label) AS rn
           |    FROM probe) WHERE rn <= 2),
           |scored AS (
           |  SELECT b.query_id, cv.vec_id AS neighbor_id, $dqc2 AS c
           |  FROM best b
           |  JOIN v qv ON qv.vec_id = b.query_id
           |  JOIN v cv ON cv.label = b.probe_label AND cv.vec_id <> b.query_id
           |    AND cv.label % 2 = 0),
           |ranked AS (
           |  SELECT query_id, neighbor_id, c,
           |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INT) AS rank
           |  FROM scored)
           |SELECT query_id, rank, neighbor_id, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos
           |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
      },
      // lexical leg = the pinned t08 BM25 SQL as a subquery (anti-drift);
      // reciprocal ranks are INTEGER 10^12 // (60 + rank), so the fused
      // score is exact long arithmetic on both engines
      "s15_rrf_hybrid" ->
        s"""WITH bm AS (SELECT doc_id, bm25 FROM (${TextQueries.T08Sql})
           |  WHERE doc_id <> 0),
           |lex AS (
           |  SELECT doc_id, CAST(rn AS INT) AS lex_rank FROM (
           |    SELECT doc_id,
           |      row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn FROM bm)
           |  WHERE rn <= 20),
           |v AS (SELECT vec_id, $norm AS e FROM embeddings),
           |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
           |rel AS (
           |  SELECT c.vec_id AS doc_id, ${sqlDotSeq("c.e", "qe")} AS rel
           |  FROM v c, q WHERE c.vec_id <> 0),
           |sem AS (
           |  SELECT doc_id, CAST(rn AS INT) AS sem_rank FROM (
           |    SELECT doc_id,
           |      row_number() OVER (ORDER BY rel DESC, doc_id) AS rn FROM rel)
           |  WHERE rn <= 20),
           |f AS (
           |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           |    lex_rank, sem_rank
           |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
           |SELECT doc_id, lex_rank, sem_rank,
           |  CAST(COALESCE(1000000000000 // (60 + lex_rank), 0)
           |    + COALESCE(1000000000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf
           |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
      // the five greedy MMR steps unrolled: p_i picks the argmax of
      // rel*0.7 - max-sim-to-picked*0.3 over the not-yet-picked
      // candidates — expression-for-expression the Spark round's math
      "s14_mmr_diverse" -> {
        def r6(x: String) = s"floor(($x) * 1000000.0 + 0.5) / 1000000.0"
        val steps = (2 to 5).map { i =>
          val prevSel = (1 until i).map(j => s"SELECT vec_id FROM p$j")
            .mkString(" UNION ALL ")
          s"""p$i AS (
             |  SELECT c.vec_id, c.rel, c.rel * 0.7 - max(s.s) * 0.3 AS score
             |  FROM cand c JOIN sims s ON s.va = c.vec_id
             |    AND s.vb IN ($prevSel)
             |  WHERE c.vec_id NOT IN ($prevSel)
             |  GROUP BY c.vec_id, c.rel
             |  ORDER BY score DESC, c.vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val out = (1 to 5).map(i =>
          s"SELECT CAST($i AS INT) AS pick, vec_id, ${r6("rel")} AS rel, " +
            s"${r6("score")} AS score FROM p$i").mkString("\nUNION ALL\n")
        s"""WITH v AS (SELECT vec_id, $norm AS e FROM embeddings),
           |q AS (SELECT e FROM v WHERE vec_id = 0),
           |cand AS (
           |  SELECT c.vec_id, c.e, ${sqlDotSeq("c.e", "q.e")} AS rel
           |  FROM v c, q WHERE c.vec_id <> 0
           |  ORDER BY rel DESC, c.vec_id LIMIT 20),
           |sims AS (
           |  SELECT a.vec_id AS va, b.vec_id AS vb, ${sqlDotSeq("a.e", "b.e")} AS s
           |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
           |p1 AS (SELECT vec_id, rel, rel * 0.7 AS score FROM cand
           |       ORDER BY score DESC, vec_id LIMIT 1),
           |$steps
           |SELECT * FROM ($out)
           |ORDER BY pick""".stripMargin
      }
    )
  }
}
