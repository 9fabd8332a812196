package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.NumFns.round6
import graft.functions.TextFns._
import graft.functions.VecFns._
import graft.streaming.Streaming.drainToMemory

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the LLM-data-pipeline extension surface (SURVEY §0 north star, §2.9
  * extension rows). Every query is deterministic and has a DuckDB oracle
  * built from the same constants.
  *
  * Scale design: all variants are inverted-index / signature joins — no
  * all-pairs O(n²) stage except the oracle-checkable near-dup baselines.
  *   - exact:      1 shuffle (groupBy hash)
  *   - minhash:    shuffle on (k, value) signature agreement
  *   - minhash-LSH banding: shuffle on (band, band-signature) buckets only
  *   - ngram-jaccard: shuffle on shingle (inverted index), then pair agg
  *   - simhash:    per-doc signature, 2 shuffles
  */
object DedupQueries {

  private val P = MinhashP

  /** d22 duplicated-substring window length, in tokens. Long enough that
    * a shared window implies copied text rather than phrase reuse (the
    * Lee et al. 2022 exact-substring threshold is 50 BPE tokens; 12
    * whitespace tokens is the same order on this corpus's short docs).
    */
  private val SpanK = 12

  /** Session-scoped memo of shared, eagerly-persisted sub-results
    * (signatures, LSH candidates, shingle sets). Two reasons:
    * (1) d02/d03/d05 all build on the same candidate pairs — one
    * materialization instead of three; (2) the signature pipeline
    * otherwise appears 4-6× inside one self-join plan, and re-analyzing /
    * re-codegening those duplicated subtrees dominated runtime (measured
    * 3 s vs 30 s run-to-run variance on identical queries). The persisted
    * frames are a few MB — per-doc signatures, not data-scale objects.
    */
  private[queries] val memo = Memo.frames()

  /** Unpersist and drop every memoized frame for (session, dir). */
  def evict(s: SparkSession, dir: String): Unit = memo.evict(s, dir)

  /** d00: the dedup pair builds plus the Quantizer caches, shared by the
    * d- and s-queries. Timed as its own entry so the d02/d03/d05 timings
    * measure their own joins, not a shared build attributed to whichever
    * query ran first.
    */
  val prelude: Prelude = Prelude("d00_dedup_prelude",
    n => n.startsWith("d") || n.startsWith("s"), Seq(memo, Quantizer.memo), prewarmParts)

  /** The prelude's component builds, individually invokable so Bench can
    * time each one: r5's single d00 number hid a +11 s regression inside
    * one of four builds (embedPairsExact joining the prelude) with no way
    * to see which. Order matters only for attribution — later builds
    * reuse earlier memos, so each entry times its OWN materialization.
    */
  def prewarmParts(s: SparkSession, dir: String): Seq[(String, () => Unit)] = Seq(
    "lsh_candidates" -> (() => { lshCandidates(s, dir); () }),
    "shingle_sets" -> (() => { shingleSets(s, dir); () }),
    // the verified pair frame consumed by d05/d07/d09/d19/d25 — built
    // (and attributed) after its candidate + shingle inputs
    "neardup_pairs" -> (() => { neardupPairs(s, dir); () }),
    // r14: the min-label CC over the verified pairs — d07/d09/d19/d25
    // each re-ran the iterative CC engine inside their own timed region
    // (4× the same fixpoint); one attributed build serves all four
    "neardup_cc" -> (() => { neardupLabels(s, dir); () }),
    "sweep_candidates" -> (() => { sweepCandidates(s, dir); () }),
    // the widened norm frame feeds embed_pairs_exact, sign proposals
    // AND the quantizer — built (and attributed) before its consumers
    "vecs_norm" -> (() => { Quantizer.vecsNorm(s, dir); () }),
    "embed_pairs_exact" -> (() => { embedPairsExact(s, dir); () }),
    // trained coarse quantizer (d16/s11/s12)
    "quantizer" -> (() => { Quantizer.assignments(s, dir); () }))

  /** Memoized EXACT embedding near-dup pairs (vec_a, vec_b, c) at the
    * 0.4 cosine threshold over L2-normalized vectors — the shared exact
    * reference: d06 IS this frame (rounded, ordered) and d15 scores each
    * blocking config's proposals against it, so the all-pairs theta join
    * (the documented exact spec, PlanHygieneSpec) runs ONCE per
    * (session, dir) instead of once per consumer. Pair volume at the
    * threshold is tiny (59 rows at sf0.01); the build is the quadratic
    * part and at 100 TB runs on samples/partitions by contract.
    */
  /** Contract bound on the exact all-pairs reference: above this many
    * vectors the quadratic build stops being an all-rows pass and runs
    * on a deterministic 1-in-m subsample (m = ⌈n/bound⌉, selected by
    * vec_id % m == 0 — reproducible across engines and runs, no global
    * sort, no RNG). 32k vectors ≈ 5·10⁸ candidate pairs — the largest
    * exact pass worth distributing; at 100 TB the blocked paths (d02,
    * d15, s02…) are the operating shape and this reference measures
    * their recall on the sample. Test SFs (≤ 2000 vectors) sit far
    * below the bound, so d06/d15/d16/d17 parity is over ALL rows there.
    */
  val MaxExactVectors: Long = 32768L

  /** md5("") — the clean-signature of a doc whose every chunk was
    * removed (d24); a literal so the all-removed row needs no extra
    * expression branch.
    */
  private val md5Empty = "d41d8cd98f00b204e9800998ecf8427e"

  /** The sample rule, factored for the spec: full frame at n ≤ bound,
    * vec_id % ⌈n/bound⌉ == 0 above it.
    */
  private[queries] def boundedExactInput(v: DataFrame, n: Long, bound: Long): DataFrame =
    if (n <= bound) v
    else v.filter(pmod(col("vec_id"), lit((n + bound - 1) / bound)) === 0)

  private def embedPairsExact(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "embedpairs") {
      // the memoized widened norm frame (Quantizer.vecsNorm): the
      // quadratic stage's parallelism = stream-side partitions, so the
      // single-split test file must not reach the join un-widened
      val v0 = Quantizer.vecsNorm(s, dir)
      val n = v0.count()
      if (n > MaxExactVectors) {
        // loud, not silent: the DuckDB oracles of every consumer
        // (d06/d15/d16/d17) compute over ALL rows, so an engaged bound
        // means parity checks at this SF are expected to FAIL — say so
        // instead of letting the mismatch look like an engine bug
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"embedPairsExact: $n vectors > MaxExactVectors=$MaxExactVectors — " +
            s"exact reference runs on a 1-in-${(n + MaxExactVectors - 1) / MaxExactVectors} " +
            "subsample (vec_id % m == 0); d06/d15/d16/d17 oracle parity does NOT hold at this scale")
      }
      val v = boundedExactInput(v0, n, MaxExactVectors)
      val a = v.as("a")
      val b = v.as("b")
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          dotSeq(col("a.e"), col("b.e")).as("c"))
        .filter(col("c") >= 0.4)
    }

  /** Sign-LSH banding proposals (r, vec_a, vec_b) for the (2×8, 4×4,
    * 8×2) configs over the shared 16-plane signature — the candidate
    * set d15 scores at the 0.4 threshold and d17 re-scores across
    * thresholds. Shared CODE, deliberately NOT a memoized frame: the
    * permissive 2-bit config proposes nearly all pairs (that is d15's
    * finding), so materializing the distinct pair set costs ~n²/4 rows
    * of cache — each consumer instead pipelines the banding join
    * straight into its own aggregation.
    */
  private def signProposals(s: SparkSession, dir: String): DataFrame = {
      val configs = Seq((2, 8), (4, 4), (8, 2)) // (bits per band, bands)
      val v = Quantizer.vecsNorm(s, dir)
      val sig = (0 until 16).map { j =>
        when(dotSeq(lit(hyperplane(j)), col("e")) > 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      val signed = v.select(col("vec_id"), sig.as("sig"))
      // one (config, band, bucket) key per vector per band of each config
      val keys = signed.select(col("vec_id"), explode(array(
        configs.flatMap { case (r, b) =>
          (0 until b).map { k =>
            struct(lit(r).as("r"), lit(k).as("band"),
              col("sig").bitwiseAND(lit(((1L << r) - 1) << (r * k))).as("bucket"))
          }
        }: _*)).as("bb"))
        .select(col("vec_id"), col("bb.r"), col("bb.band"), col("bb.bucket"))
      val a = keys.as("a")
      val b = keys.as("b")
      a.join(b,
          col("a.r") === col("b.r") && col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.r").as("r"), col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
    }

  /** Memoized full-corpus band-sweep candidates (r, doc_a, doc_b) —
    * shared by d12 (sweep stats) and d13 (the apply stage filters to the
    * chosen config). ~|candidates| rows, dominated by the permissive r=1
    * config; a few MB, not data-scale.
    */
  private def sweepCandidates(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sweep") {
      // r14: the r=4 config of the sweep IS lshCandidates (same 4-slot
      // banding, same MaxBucket cap, same doc_a < doc_b pairs; a bucket
      // of 1 proposes nothing, so the count filters' 1-vs-2 lower bound
      // cannot differ) — reuse the already-memoized pair frame instead
      // of rebuilding the 4-slot banding inside the sweep (guide §2.4).
      // Every consumer (d12 via sweepStats, d13's apply stage) takes
      // DISTINCT (r, doc_a, doc_b), so the union's multiset/distinct
      // mix is immaterial.
      bandSweepCandidates(minhashArr(s, dir), Seq(1L, 2L, 8L))
        .unionByName(lshCandidates(s, dir)
          .select(lit(4L).as("r"), col("doc_a"), col("doc_b")))
    }

  /** Long-format minhash signatures: (doc_id, k, v), K rows per doc.
    *
    * Plan shape: SHUFFLE-FREE — per doc, hash the memoized shingle array
    * once (h60 % P inside one `transform`), then the native fused-loop
    * expression (graft_minhash_slots, MinhashSlotsExpr) computes all K
    * slots in a single K×N primitive pass; posexplode restores the long
    * (doc_id, k, v) contract downstream queries join on. The signature
    * build is now a pure projection over the per-doc sets — two earlier
    * forms each had a corpus-sized cost this removes: a ×K generator
    * blow-up before a (doc_id, k) aggregate (22.3 s at sf0.1 in the
    * driver bench), then a doc_id-keyed aggregate with K min()
    * accumulators over exploded shingle rows (its shuffle was the last
    * corpus-sized exchange in the prelude). Values are bit-identical
    * (order-independent integer min). Docs with no shingles have no
    * signature rows (the all-null slot array is filtered, matching the
    * aggregate form's semantics).
    */
  /** Per-doc minhash slot ARRAY (doc_id, slots[K]) — the pre-explode
    * form. Memoized separately because d12's band-sweep derives every
    * (bands × rows-per-band) signature from it with pure slice
    * projections — no aggregation needed to regroup k-rows into bands.
    */
  private[queries] def minhashArr(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sigarr") {
      shingleSets(s, dir)
        .filter(size(col("gs")) > 0)
        .select(col("doc_id"),
          minhashSlots(transform(col("gs"), g => h60(g) % P)).as("slots"))
    }

  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sig") {
      minhashArr(s, dir)
        .select(col("doc_id"), posexplode(col("slots")))
        .toDF("doc_id", "k", "v")
    }

  /** Hot-bucket cap: a (band, band-signature) bucket holding more than
    * this many docs is skipped by candidate generation. Without the cap
    * the within-bucket self-join is quadratic in bucket size, and
    * low-entropy corpora produce buckets with thousands of members (the
    * standard production LSH mitigation; genuine near-dup pairs live in
    * small, specific buckets). The oracle applies the identical cap.
    */
  val MaxBucket = 64

  /** Distinct LSH-banding candidate pairs (doc_a < doc_b): band signature
    * = the 4 slot values of a band joined in k order; candidates agree on
    * at least one full band whose bucket is under MaxBucket.
    */
  private[queries] def lshCandidates(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "cand") {
      // band signatures SLICED straight from the per-doc slot array
      // (slots are already in k order) — an earlier form posexploded to
      // (doc_id, k, v) and re-grouped with a (doc_id, band) aggregate,
      // paying a corpus×K shuffle just to undo its own explode; this
      // projection makes bsig shuffle-free (bands = K/4, 4 slots each,
      // posexplode's 0-based pos IS the band index)
      val bsig = minhashArr(s, dir)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), lit(MinhashK / 4 - 1)), b =>
            array_join(transform(slice(col("slots"), b * lit(4) + lit(1), lit(4)),
              v => v.cast(StringType)), ","))))
        .toDF("doc_id", "band", "bs")
      val small = bsig.groupBy("band", "bs")
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= MaxBucket)
      // same (band, bs) shuffle key as the self-join below → exchange reuse
      val pruned = bsig.join(small, Seq("band", "bs"))
      val l = pruned.as("l")
      val r = pruned.as("r")
      l.join(r,
          col("l.band") === col("r.band") && col("l.bs") === col("r.bs") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
    }

  /** Verified near-dup pairs (doc_a < doc_b, exact n-gram Jaccard >= 0.5
    * over the LSH candidates) — MEMOIZED: six rows consume it (d05
    * scores, d07 clusters, d09 keep-list, d19 central keeper, d25
    * funnel, the d02-adjacent spec paths), and without the memo each
    * one re-ran the candidate×sets verify join. Pair volume at the 0.5
    * threshold is near-dup-sized — a few MB, never corpus-scale.
    */
  private def neardupPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "neardup") {
      val cand = lshCandidates(s, dir)
      val sets = shingleSets(s, dir)
      val a = sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("gs", "gsa")
      val b = sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("gs", "gsb")
      cand.join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("gsa"), col("gsb"))).cast(DoubleType).as("i"),
          size(col("gsa")).as("na"), size(col("gsb")).as("nb"))
        .select(col("doc_a"), col("doc_b"),
          (col("i") / (col("na") + col("nb") - col("i"))).as("j"))
        .filter(col("j") >= 0.5)
    }

  /** Memoized min-label connected components over the verified near-dup
    * pairs (doc_id, cluster_id) — the clustering step d07 publishes,
    * d09 keeps by, d19 ranks within and d25's tier 3 drops by. Each of
    * the four previously re-ran the ITERATIVE CC engine (per-round
    * joins + checkpoints) inside its own timed region over the same
    * memoized pair frame; the label frame is pair-volume, never
    * corpus-scale, and Bench attributes this build as its own
    * d00 component ("neardup_cc").
    */
  private def neardupLabels(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "cclabels") {
      graft.ops.ConnectedComponents.minLabel(
        neardupPairs(s, dir).select("doc_a", "doc_b"))._1
    }

  /** Per-doc distinct shingle sets: one linear scan, no shuffle. */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "sets") {
      // WIDENED as of r13: the historical net-negative (8-way widening
      // taxed d19's CC+PageRank rounds ~+3 s, which re-scheduled every
      // inherited partition per round) no longer holds — cached-plan
      // AQE coalescing (Bench/Verify conf) collapses the iterative
      // consumers' post-shuffle frames by data volume, so the widening
      // now only parallelizes the heavy per-doc shingle/minhash
      // projections (re-measured at sf0.1: d00's lsh_candidates
      // component 2.7 s → 1.5 s, d19/d07 flat)
      Tables.widenIfNarrow(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), array_distinct(grams3(tokens(col("text")))).as("gs"))
    }

  private def sqlGrams: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(t) - 1, 1)),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      |  FROM toks)""".stripMargin

  private def sqlSigs: String = {
    val a = MinhashA.mkString("[", ", ", "]")
    val b = MinhashB.mkString("[", ", ", "]")
    s"""$sqlGrams,
       |hm AS (SELECT doc_id, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % $P AS hm FROM grams),
       |ks AS (SELECT unnest(range(0, $MinhashK)) AS k),
       |sig AS (
       |  SELECT doc_id, k, min(($a[k + 1] * hm + $b[k + 1]) % $P) AS v
       |  FROM hm, ks GROUP BY doc_id, k)""".stripMargin
  }

  /** Parameterized banding CTEs for the d12 sweep: bsig$r/small$r/cand$r
    * with r slots per band (sqlCand is the fixed r=4 production config).
    */
  private def sqlCandR(r: Int, src: String = "sig", tag: String = ""): String =
    s"""bsig$tag$r AS (
       |  SELECT doc_id, CAST(k // $r AS INT) AS band,
       |         string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS bs
       |  FROM $src GROUP BY doc_id, CAST(k // $r AS INT)),
       |small$tag$r AS (
       |  SELECT band, bs FROM bsig$tag$r GROUP BY band, bs
       |  HAVING count(*) <= $MaxBucket),
       |cand$tag$r AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, rr.doc_id AS doc_b
       |  FROM bsig$tag$r l
       |  JOIN small$tag$r s ON l.band = s.band AND l.bs = s.bs
       |  JOIN bsig$tag$r rr ON l.band = rr.band AND l.bs = rr.bs AND l.doc_id < rr.doc_id)""".stripMargin

  /** Shared candidate-generation CTEs (banding + MaxBucket cap),
    * mirroring lshCandidates. Appends `bsig`, `small`, `cand`.
    */
  private def sqlCand: String =
    s"""bsig AS (
       |  SELECT doc_id, CAST(k // 4 AS INT) AS band,
       |         string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS bs
       |  FROM sig GROUP BY doc_id, CAST(k // 4 AS INT)),
       |small AS (
       |  SELECT band, bs FROM bsig GROUP BY band, bs
       |  HAVING count(*) <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bsig l
       |  JOIN small s ON l.band = s.band AND l.bs = s.bs
       |  JOIN bsig r ON l.band = r.band AND l.bs = r.bs AND l.doc_id < r.doc_id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: content-hash groupBy (single shuffle; at 100 TB this is
    // the canonical sha2-bucket dedup pass).
    "d01_dedup_exact" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .orderBy("keep_id")
    },

    // DEDUP FUNNEL — the waterfall ledger a curation run publishes:
    // docs and tokens surviving each tier of the ladder, applied in
    // escalating-cost order (exact content hash → d08's minhash
    // signature key → d09's verified near-dup clusters). d01/d08/d09
    // each pin their tier in isolation; this row pins the COMPOSED
    // pipeline semantics and the attribution numbers that justify each
    // tier's cost. Tier semantics: tiers 1–2 keep the min-id keeper
    // among the previous tier's survivors; tier 3 drops ALL non-minimal
    // members of the whole-corpus near-dup clusters (cluster minima are
    // global, so a cluster whose global-min member already fell at an
    // earlier tier keeps no representative — the same rule both engines
    // compute). Scale shape: one pass per tier — a
    // content-hash shuffle, a signature-key shuffle, and the memoized
    // candidate graph's CC (pair-volume, not corpus); the report is
    // four 1-row aggregates.
    "d25_dedup_funnel" -> { (s, dir) =>
      // r14: ONE corpus text pass computes everything the tiers key on
      // — content hash, token count and the d08 signature key — into a
      // node-scale checkpointed frame. The former shape re-ran the
      // documents scan once per tier aggregate (4×) and the minhash
      // key chain twice (s2 + s3 branches), and the key chain itself
      // was the interpreted transform(array_distinct(grams3(tokens)))
      // HOF tower — now the native graft_gram_h60s kernel
      // (GramHashSpec-pinned bit-equal). Tier semantics unchanged:
      // identical keeper rules over identical keys.
      val hms = call_function("graft_gram_h60s", col("text"), lit(P))
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).cast(LongType).as("toks"),
          sha2(col("text"), 256).as("h"),
          coalesce(
            when(size(hms) > 0,
              concat_ws(",", transform(minhashSlots(hms), _.cast("string")))),
            col("text")).as("sig_key"))
        .localCheckpoint()
      val ex = base.groupBy("h")
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s1 = base.join(ex, Seq("doc_id"), "left_semi").localCheckpoint()
      val k2 = s1.groupBy("sig_key")
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s2 = s1.join(k2, Seq("doc_id"), "left_semi").localCheckpoint()
      val losers = neardupLabels(s, dir)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      val s3 = s2.join(losers, Seq("doc_id"), "left_anti")
      def stat(stage: Int, tier: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("docs"), sum(col("toks")).as("tokens"))
          .select(lit(stage.toLong).as("stage"), lit(tier).as("tier"),
            col("docs"), col("tokens"))
      stat(0, "raw", base)
        .unionAll(stat(1, "exact", s1))
        .unionAll(stat(2, "near_sig", s2))
        .unionAll(stat(3, "near_cluster", s3))
        .orderBy("stage")
    },

    // MinHash signature agreement: LSH-banding candidates verified by
    // counting agreement over all K=16 slots, kept when >= K/2 agree
    // (est. Jaccard >= 0.5). A direct self-join on raw (k, v) slot values
    // is quadratic in value frequency — low-entropy corpora (like this
    // synthetic one) share min-hashes across thousands of docs, so the
    // propose-then-verify split is the only shape that survives scale.
    "d02_minhash_pairs" -> { (s, dir) =>
      val cand = lshCandidates(s, dir)
      val sig = minhashSigs(s, dir)
      val sa = sig.toDF("doc_a", "k", "va")
      val sb = sig.toDF("doc_b", "k", "vb")
      cand.join(sa, "doc_a")
        .join(sb, Seq("doc_b", "k"))
        .filter(col("va") === col("vb"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("matches"))
        .filter(col("matches") >= MinhashK / 2)
        .orderBy("doc_a", "doc_b")
    },

    // MinHash + LSH banding (the 100 TB path): 4 bands × 4 rows; candidate
    // pair = full agreement on >= 1 band. Shuffle key = (band, band-sig).
    "d03_minhash_lsh" -> { (s, dir) =>
      lshCandidates(s, dir).orderBy("doc_a", "doc_b")
    },

    // SimHash: 32-bit signature from 60-bit token hashes; bit i set when
    // the +1/-1 vote over distinct tokens is positive.
    //
    // Plan shape: ONE shuffle on doc_id carrying 32 partial-agg columns.
    // The earlier form exploded every token ×32 bit positions before a
    // (doc_id, i) aggregate — 32× the generator rows and 32 hash-map
    // probes per token vs one probe updating 32 accumulators here
    // (measured 25.7 s → ~1 s class at sf0.1 in the driver bench).
    "d04_simhash" -> { (s, dir) =>
      val votes = (0 until 32).map(i =>
        sum(((shiftright(col("h"), i) % 2L) * 2L - 1L)).as(s"v$i"))
      val sig = (0 until 32).map(i =>
        when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
        .reduce(_ + _)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        .select(col("doc_id"), h60(col("tok")).as("h"))
        .groupBy("doc_id")
        .agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard over LSH candidate pairs — the canonical
    // two-stage dedup: MinHash banding proposes candidates (bucket-local
    // join), exact Jaccard verifies them. A raw inverted-index self-join
    // on shingles is quadratic in document frequency (the synthetic
    // corpus's small vocabulary makes every common shingle a hot key —
    // measured 400+ s at sf0.1); candidate verification touches only the
    // proposed pairs.
    "d05_ngram_jaccard" -> { (s, dir) =>
      neardupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round6(col("j")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Shingle CONTAINMENT over the LSH candidates — the asymmetric
    // complement of d05's Jaccard: C(A→B) = |A∩B| / |A| scores 1.0 when
    // A's shingles all appear in B however large B is, which is the
    // quote / excerpt / boilerplate-inclusion measure Jaccard dilutes
    // (a 50-gram quote inside a 500-gram page has j≈0.1 but
    // containment 1.0). Published per direction plus the max — a
    // containment-dedup pass drops the CONTAINED side, not min-id.
    // Same propose-then-verify scale shape as d05: exact set work runs
    // only on the banded-LSH candidate list, never corpus × corpus.
    "d18_containment" -> { (s, dir) =>
      val sets = shingleSets(s, dir)
      val a = sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("gs", "gsa")
      val b = sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("gs", "gsb")
      lshCandidates(s, dir).join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("gsa"), col("gsb"))).cast(DoubleType).as("i"),
          size(col("gsa")).cast(DoubleType).as("na"),
          size(col("gsb")).cast(DoubleType).as("nb"))
        .select(col("doc_a"), col("doc_b"),
          round6(col("i") / col("na")).as("cont_a"),
          round6(col("i") / col("nb")).as("cont_b"),
          round6(greatest(col("i") / col("na"), col("i") / col("nb"))).as("cont_max"))
        .filter(col("cont_max") >= 0.6)
        .orderBy("doc_a", "doc_b")
    },

    // Connected components over the verified near-dup pairs — the step
    // that turns pairwise matches into "keep one per duplicate cluster"
    // (cluster_id = min doc_id in the component). DataFrame-native
    // min-label propagation: each round is one shuffle join on the node
    // key + a per-node min; rounds = component diameter (near-dup
    // clusters are short chains, so a handful). localCheckpoint after
    // every round truncates the lineage so the plan stays O(1)-sized —
    // the standard iterative-graph shape on a 1000-executor cluster.
    // Only docs that appear in >= 1 pair are emitted (singletons are not
    // clusters). Oracle: the same fixpoint as a DuckDB recursive CTE.
    // (graft.ops.ConnectedComponents also provides alternatingStar — the
    // O(log)-rounds engine for DEEP components; ConnectedComponentsSpec
    // pins both engines equal on random + pathological-chain graphs.)
    "d07_dedup_clusters" -> { (s, dir) =>
      // r14: the memoized label frame (neardupLabels) — the CC fixpoint
      // ran once per consumer before (d07/d09/d19/d25)
      neardupLabels(s, dir).orderBy("doc_id")
    },

    // Centrality-weighted keeper selection — the synthesis of d07's
    // clustering and g01's ranking: within each near-dup cluster keep
    // the MOST CENTRAL member of the similarity graph (highest
    // fixed-point PageRank, min doc_id tiebreak) instead of d07's
    // min-id convention. Centrality is the principled keeper for
    // near-dup clusters: the member most similar to the rest of its
    // cluster is the best single representative of the cluster's
    // content (min-id is arbitrary). Ranks are ops.PageRank's integer
    // fixed-point, so keeper choice is bit-deterministic and the DuckDB
    // oracle replays the identical iterations as CTE layers over the
    // same verified pair graph. Scale shape: both engines run on the
    // PAIR graph (candidate volume, not corpus volume); the final
    // argmax is one window over cluster keys.
    "d19_central_keeper" -> { (s, dir) =>
      val pairs = neardupPairs(s, dir).select("doc_a", "doc_b")
      val labels = neardupLabels(s, dir)
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val ranks = graft.ops.PageRank.run(edges, 3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(desc("rank"), col("doc_id"))
      labels.join(ranks, col("doc_id") === col("node"))
        .select(col("doc_id"), col("cluster_id"), col("rank"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("cluster_id")
    },

    // Edit-distance verification over the LSH candidates — the fuzzy
    // complement of d05's set-based Jaccard: Levenshtein similarity on
    // the 64-char document prefixes (1 - lev/maxlen). Levenshtein is
    // quadratic per pair, so at scale it runs ONLY on proposed candidate
    // pairs and only on bounded prefixes — never corpus x corpus, never
    // full texts. Both engines implement the identical unit-cost
    // ins/del/sub recurrence, so the scores hash-match.
    "d10_edit_verify" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("p"))
      val a = docs.toDF("doc_a", "pa")
      val b = docs.toDF("doc_b", "pb")
      lshCandidates(s, dir)
        .join(a, "doc_a").join(b, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).cast(LongType).as("lev"),
          round6(lit(1.0) - levenshtein(col("pa"), col("pb")).cast(DoubleType) /
            greatest(length(col("pa")), length(col("pb")))).as("sim"))
        .orderBy("doc_a", "doc_b")
    },

    // The END of the near-dup pipeline: the cleaned corpus. Cluster the
    // verified near-dup pairs (d07's connected components), keep only
    // each cluster's min doc_id, and anti-join the losers away — what a
    // training-data job actually materializes after d03/d05/d07 decide
    // who duplicates whom. Scale shape: the loser list is |docs in
    // clusters| (tiny next to the corpus), so the final pass is one
    // broadcast-able anti-join over a single corpus scan.
    "d09_dedup_keep" -> { (s, dir) =>
      val losers = neardupLabels(s, dir)
        .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      Tables(s, dir, "documents").select("doc_id")
        .join(losers, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },

    // Near-exact dedup on the PER-ROW expression minhash signature — the
    // same key math Streaming.dedupNearStream applies incrementally
    // (TextFns.minhashSlots; no aggregation between scan and key), so the
    // streaming dedup tier has a driver-checked batch twin. Docs collapse
    // when all K slots agree (Jaccard ≈ 1); docs too short for one
    // shingle key on exact content. One shuffle on the key; min(doc_id)
    // is the deterministic keeper.
    "d08_sig_dedup" -> { (s, dir) =>
      // r14: the native one-pass gram-hash kernel (GramHashSpec pins it
      // bit-equal to the former interpreted HOF chain
      // transform(array_distinct(grams3(tokens(text))), h60 % P))
      Tables(s, dir, "documents")
        .withColumn("hms", call_function("graft_gram_h60s", col("text"), lit(P)))
        .withColumn("sig_key", coalesce(
          when(size(col("hms")) > 0,
            concat_ws(",", transform(minhashSlots(col("hms")), _.cast("string")))),
          col("text")))
        .groupBy("sig_key")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))
        .select(col("keep_id"), col("cnt"))
        .orderBy("keep_id")
    },

    // Embedding-cosine near-dup pairs — the EXACT all-pairs baseline
    // (restored in r05: r04 confined candidates to the `label` column on
    // the premise it was a coarse quantizer; measured, label is a random
    // 10-class attribute — ~90% of true cosine>=0.4 pairs cross label
    // boundaries, so the confinement silently dropped them. d15 now
    // MEASURES blocking recall instead of assuming it). Like s01, this is
    // the documented brute-force member of its ladder: the theta join is
    // O(n²) by definition of the exact spec, vectors are L2-normalized
    // once in a linear pre-pass so each pair costs a single dot product.
    // At 100 TB an exact all-pairs near-dup pass is run on samples /
    // partitions, and any blocked scale path must publish its recall
    // against this reference — that is what d15_blocking_eval does.
    // The join itself lives in the memoized embedPairsExact frame shared
    // with d15 (built once per session/dir, like the minhash prelude).
    "d06_embed_neardup" -> { (s, dir) =>
      embedPairsExact(s, dir)
        .select(col("vec_a"), col("vec_b"), round6(col("c")).as("cos"))
        .orderBy("vec_a", "vec_b")
    },

    // Sign-LSH blocking QUALITY sweep for embedding near-dup — the
    // measurement the r04 label-confinement skipped (ADVICE r04): before
    // confining a 100 TB near-dup pass to blocks, run this on a sample
    // and read off what each banding scheme actually buys. A 16-plane
    // sign signature (deterministic hyperplanes shared with s02) is cut
    // into b bands of r bits for (r,b) ∈ {(2,8),(4,4),(8,2)}; a pair is
    // PROPOSED if it agrees on any whole band; proposals are verified by
    // membership in the memoized exact pair set (shared with d06):
    //   precision = true_proposed / proposed
    //   recall    = true_proposed / exact_total.
    // (At this corpus's threshold of 0.4, per-bit agreement for a true
    // pair is only ~0.63 vs 0.5 random — the sweep shows sign-LSH cannot
    // block cheaply at 0.4, which is WHY d06 stays exact.)
    // Scale shape: signatures are one linear scan; each config's
    // candidate join is EQUI on (config, band, bucket); the exact side is
    // the d06 baseline, run here at sample scale (the d13 tune-on-sample
    // pattern). The 1-row exact-total frame broadcasts back.
    "d15_blocking_eval" -> { (s, dir) =>
      // banding proposals from the shared builder (code shared with
      // d17's threshold sweep; deliberately not materialized — see
      // signProposals)
      val proposed = signProposals(s, dir)
      // a proposal is a hit iff it appears in the memoized exact pair set
      // (cos >= 0.4 ⟺ membership — no per-proposal dot product needed,
      // and the explode never carries the 64-dim payload)
      val exact = embedPairsExact(s, dir)
      val verified = proposed
        .join(exact.select(col("vec_a"), col("vec_b"), lit(1).as("hit")),
          Seq("vec_a", "vec_b"), "left")
        .select(col("r"), coalesce(col("hit"), lit(0)).as("hit"))
      // exact reference total (1 row, broadcast back)
      val exactTotal = exact.agg(count(lit(1)).as("exact_total"))
      verified.groupBy("r")
        .agg(count(lit(1)).as("proposed"), sum(col("hit")).as("found"))
        .crossJoin(broadcast(exactTotal))
        .select(col("r").as("bits_per_band"),
          (lit(16L) / col("r")).cast(LongType).as("bands"),
          col("proposed"), col("found"), col("exact_total"),
          round6(col("found").cast(DoubleType) / col("proposed").cast(DoubleType)).as("precision"),
          round6(col("found").cast(DoubleType) / col("exact_total").cast(DoubleType)).as("recall"))
        .orderBy("bits_per_band")
    },

    // Threshold sweep of the SAME banding configs — the s-curve leg d15
    // leaves implicit. LSH banding's capture probability is
    // 1-(1-s^r)^b, an s-curve in pair similarity s: at d15's 0.4
    // threshold the per-bit agreement of a barely-true pair (~0.63) sits
    // in the curve's flat foot, which is why no config blocks well
    // there. Raising the verification threshold keeps only
    // higher-agreement pairs, so the same proposal set covers a larger
    // FRACTION of the (smaller) truth — recall climbs the s-curve with
    // no change to the candidate volume. This row publishes exactly
    // that trade: one line per (threshold, config) over one shared
    // proposal build. The operating lesson for a 100 TB near-dup pass:
    // sign-LSH blocking is usable for high thresholds (find
    // near-copies) and NOT for the 0.4 regime (find topical overlap) —
    // pick the threshold first, then read this table.
    // Scale shape: proposals come from the shared (band, bucket)
    // equi-join builder (code shared with d15, pipelined not
    // materialized); thresholds explode a 3-row literal frame
    // broadcast against pair-volume rows, never data-volume.
    "d17_threshold_sweep" -> { (s, dir) =>
      val thresholds = Seq(0.4, 0.45, 0.5)
      val tdf = s.range(1).select(
        explode(array(thresholds.map(lit): _*)).as("t"))
      val exact = embedPairsExact(s, dir) // (vec_a, vec_b, c), c >= 0.4
      val verified = signProposals(s, dir)
        .join(exact.select(col("vec_a"), col("vec_b"), col("c")),
          Seq("vec_a", "vec_b"), "left")
        .crossJoin(broadcast(tdf))
        .select(col("t"), col("r"),
          when(col("c") >= col("t"), 1).otherwise(0).as("hit"))
      // per-threshold truth totals (3 rows, broadcast back)
      val totals = exact.crossJoin(broadcast(tdf))
        .filter(col("c") >= col("t"))
        .groupBy("t").agg(count(lit(1)).as("exact_total"))
      verified.groupBy("t", "r")
        .agg(count(lit(1)).as("proposed"), sum(col("hit")).as("found"))
        .join(broadcast(totals), Seq("t"))
        .select(col("t").as("threshold"),
          col("r").as("bits_per_band"),
          (lit(16L) / col("r")).cast(LongType).as("bands"),
          col("proposed"), col("found"), col("exact_total"),
          round6(col("found").cast(DoubleType) / col("proposed").cast(DoubleType)).as("precision"),
          round6(col("found").cast(DoubleType) / col("exact_total").cast(DoubleType)).as("recall"))
        .orderBy("threshold", "bits_per_band")
    },

    // Quantizer-blocking comparison — d15 measured sign-LSH banding;
    // this row measures CLUSTER blocking (the SemDeDup/d11 shape) for
    // both available cluster keys: the synthetic `label` column (the
    // r04 mistake, kept as the measured control) and the TRAINED k-means
    // quantizer (ops.KMeans via the shared Quantizer memo). For each:
    //   proposed = Σ |cluster|·(|cluster|-1)/2  (the candidate volume a
    //              confined near-dup pass would pay)
    //   found    = exact cosine≥0.4 pairs that co-cluster
    //   recall   = found / exact_total (what confinement keeps).
    // Scale shape: cluster sizes are one tiny aggregate; the verify side
    // joins the memoized exact pair set (shared with d06/d15) against
    // the assignment twice on vec_id — pair-volume work, not n².
    "d16_blocking_compare" -> { (s, dir) =>
      val exact = embedPairsExact(s, dir)
      val lab = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("key"))
      val km = Quantizer.assignments(s, dir)
        .select(col("vec_id"), col("cid").cast(LongType).as("key"))
      def leg(name: String, asgn: DataFrame): DataFrame = {
        val proposed = asgn.groupBy("key").agg(count(lit(1)).as("n"))
          .agg(sum(expr("(n * (n - 1)) div 2")).as("proposed"))
        val found = exact
          .join(asgn.select(col("vec_id").as("vec_a"), col("key").as("ka")), "vec_a")
          .join(asgn.select(col("vec_id").as("vec_b"), col("key").as("kb")), "vec_b")
          .filter(col("ka") === col("kb"))
          .agg(count(lit(1)).as("found"))
        val total = exact.agg(count(lit(1)).as("exact_total"))
        found.crossJoin(broadcast(proposed)).crossJoin(broadcast(total))
          .select(lit(name).as("quantizer"), col("proposed"), col("found"),
            col("exact_total"),
            round6(col("found").cast(DoubleType) /
              col("proposed").cast(DoubleType)).as("precision"),
            round6(col("found").cast(DoubleType) /
              col("exact_total").cast(DoubleType)).as("recall"))
      }
      leg("kmeans", km).unionByName(leg("label", lab)).orderBy("quantizer")
    },

    // SEMANTIC dedup (SemDeDup shape): confine the quadratic cosine
    // check to CLUSTERS of a coarse quantizer, then inside each cluster
    // greedily drop the later (higher vec_id) member of every pair above
    // the similarity threshold. Cluster key = the TRAINED k-means
    // quantizer (ops.KMeans via the shared Quantizer memo) — earlier
    // rounds used the synthetic `label` column as a stand-in; d16
    // measures why this upgrade matters (the trained clusters keep 42%
    // of true cosine≥0.4 pairs within-cluster vs label's 8.5% at
    // comparable candidate volume, sf0.01). SemDeDup is approximate BY
    // DESIGN — the within-cluster confinement is its semantics, and
    // d16/d15 publish what it trades against the d06 exact baseline.
    // Output = the dropped vectors with how many earlier close
    // neighbors condemned them and the strongest one.
    // Scale shape vs d06's all-pairs baseline: the self-join is EQUI on
    // the cluster key, so candidate volume is Σ|cluster|² not n² — the
    // entire point of SemDeDup at 100 TB is choosing enough clusters
    // that Σ|cluster|² stays linear-ish; the greedy keep-lowest-id rule
    // needs no iteration (one join + one aggregate, no fixpoint).
    "d11_semdedup" -> { (s, dir) =>
      val v = Quantizer.assignments(s, dir) // (vec_id, e, cid)
      val a = v.as("a")
      val b = v.as("b")
      a.join(b, col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vec_id"), col("b.cid").as("cid"),
          dotSeq(col("a.e"), col("b.e")).as("c"))
        .filter(col("c") >= 0.3)
        .groupBy("vec_id", "cid")
        .agg(count(lit(1)).as("n_close"), round6(max(col("c"))).as("max_cos"))
        .orderBy("vec_id")
    },

    // LSH band-TUNING sweep — the (bands × rows-per-band) choice is THE
    // dedup-quality knob (it sets the Jaccard threshold where the
    // candidate s-curve flips), and this row measures it instead of
    // folkloring it: for each rows-per-band r in {1,2,4,8} (bands=K/r),
    // banded candidates are generated under the same MaxBucket cap,
    // the UNION of all configs' pairs is verified ONCE with exact
    // n-gram Jaccard (>= 0.5 = true near-dup), and each config scores
    // precision = true/proposed and recall = true/reference (reference
    // = every true pair any config surfaced — the d-series twin of the
    // s06-s08 ANN recall matrix). Scale shape: per-config work is the
    // d03 bucket join (never all-pairs); exact verification touches
    // only the candidate union; per-config stats ride one explode +
    // tiny aggregate, and the 1-row reference count broadcasts back.
    "d12_lsh_tuning" -> { (s, dir) =>
      sweepStats(s, dir, sweepCandidates(s, dir))
        .select(col("rows_per_band"),
          expr(s"$MinhashK DIV rows_per_band").as("bands"),
          col("n_cand"), col("n_true"),
          round6(col("n_true").cast(DoubleType) / col("n_cand").cast(DoubleType)).as("prec"),
          round6(col("n_true").cast(DoubleType) / col("n_ref").cast(DoubleType)).as("recall"))
        .orderBy("rows_per_band")
    },

    // SELF-TUNED dedup — the d12 sweep closed into a decision: tune on a
    // deterministic 50% sample (sweep all 4 banding configs, exact-verify
    // their candidate union, score F1), pick the best config (ties ->
    // cheapest, i.e. largest rows-per-band; a no-signal sample falls back
    // to r=8), then run the FULL-corpus dedup with only the chosen
    // config: banding -> exact Jaccard verify -> connected components ->
    // keep-list (cluster minimum survives). This is the 100 TB operating
    // shape: the sweep prices each config on a sample it can afford, and
    // the corpus pays for exactly one config. Output = kept doc_ids +
    // the chosen rows_per_band (constant column, 1-row broadcast).
    "d13_auto_dedup" -> { (s, dir) =>
      val arr = minhashArr(s, dir)
      val stats = sweepStats(s, dir,
        bandSweepCandidates(arr.filter(col("doc_id") % 2 === 0)),
        materializeCands = true)
      val prec = col("n_true").cast(DoubleType) / col("n_cand").cast(DoubleType)
      val rec = when(col("n_ref") > 0,
        col("n_true").cast(DoubleType) / col("n_ref").cast(DoubleType)).otherwise(lit(0.0))
      val scored = stats.select(col("rows_per_band"),
        when(prec + rec > 0.0, lit(2.0) * prec * rec / (prec + rec))
          .otherwise(lit(0.0)).as("f1"))
      // r14: the 1-row choice folds to the DRIVER (the sanctioned
      // bounded collect — one long), replacing a localCheckpoint plus
      // two broadcast joins of a 1-row frame with literals. It also
      // lets the apply stage reuse the shared session memos when the
      // sample picks the production config: r=4's candidate set IS
      // lshCandidates (sweepCandidates reuses it by construction), so
      // its verified pairs are EXACTLY neardupPairs and its min-label
      // CC is EXACTLY neardupLabels — the frames d07/d09/d19/d25
      // already share, built and attributed once in the d00 prelude
      // (guide §2.4). The former shape re-verified and re-clustered
      // the same pairs inside d13's own timed region. A non-4 choice
      // keeps the general path (same code as before).
      val chosenR = scored
        .unionByName(s.range(1).select(lit(8L).as("rows_per_band"), lit(-1.0).as("f1")))
        .orderBy(desc("f1"), desc("rows_per_band"))
        .limit(1).select(col("rows_per_band"))
        .collect()(0).getLong(0)
      // budget-switched CC: min-label for the shallow components near-dup
      // graphs produce, automatic fallback to the O(log)-round star
      // engine if the verified pair graph turns out deep (the engines
      // are keep-list-equivalent — ConnectedComponentsSpec pins it)
      val labels =
        if (chosenR == 4L) neardupLabels(s, dir)
        else graft.ops.ConnectedComponents.auto(
          sweepCandidates(s, dir)
            .filter(col("r") === lit(chosenR))
            .select("doc_a", "doc_b").distinct()
            .transform(exactVerified(s, dir, _)))._1
      val losers = labels
        .filter(col("cluster_id") =!= col("doc_id"))
        .select("doc_id")
      Tables(s, dir, "documents").select("doc_id")
        .join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(chosenR).as("chosen_r"))
        .orderBy("doc_id")
    },

    // CROSS-RUN incremental dedup (ops.IncrementalDedup) as an oracle
    // row: the documents table replays as a 3-day ingest (day =
    // doc_id % 3) through the REAL side-effectful operator — each day's
    // batch collapses within itself, anti-joins the persisted hash
    // index, and appends its survivors' hashes to the index (a fresh
    // temp index per invocation keeps the query deterministic). The
    // dedup key is the 80-char head fingerprint (the corpus's full
    // texts are all unique, but its templated heads collide — the
    // boilerplate-dedup shape); day 2 takes the Bloom-prefilter path,
    // so both operator variants run under the oracle. The DuckDB side
    // never iterates: the replay's fixpoint has a closed form — a row
    // survives iff it has the smallest doc_id within its (key, day)
    // batch AND its day is the key's first day — and the iterative
    // operator must reproduce it exactly. Scale shape: per-day work is
    // one content-hash shuffle + an index anti-join (Bloom-prefiltered
    // on day 2: the index rides as a 2 MB broadcast bitset and only
    // possible-duplicates reach the join); the index memory lives in
    // storage, not state, so the horizon is unbounded at any scale.
    "d14_incremental_dedup" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .withColumn("__key", substring(col("text"), 1, 80))
      // each day's survivors are localCheckpoint'ed inside process(), so
      // the index is only needed DURING the replay
      val days = graft.io.Writers.withScratchDir(s, "d14_index") { tmp =>
        val indexPath = s"$tmp/index"
        (0 until 3).map { d =>
          val batch = docs.filter(pmod(col("doc_id"), lit(3)) === d)
          val out =
            if (d == 2)
              graft.ops.IncrementalDedup.processWithBloom(
                batch, "doc_id", "__key", indexPath)
            else
              graft.ops.IncrementalDedup.process(
                batch, "doc_id", "__key", indexPath)
          out.select(lit(d).as("day"), col("doc_id"))
        }
      }
      days.reduce(_ unionByName _).orderBy("day", "doc_id")
    },

    // EXACT set-similarity self-join via prefix filtering (AllPairs /
    // SSJoin; Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06) — the
    // exact counterpart to d03's probabilistic LSH banding, over the
    // house 3-gram shingle sets (d05's element). Element choice is the
    // whole ballgame for prefix filtering — its selectivity is
    // VOCABULARY-driven: measured at sf0.1, word bigrams (931 distinct
    // across the templated corpus) left prefix buckets so fat the join
    // emitted 25.7M pre-pairs (73 s — worse than brute force), while
    // trigrams (27k vocab) cut that 35× to 0.73M and 193k distinct
    // candidates for the same 256-pair answer. Shingles sit in a
    // GLOBAL rarest-first canonical order (ascending document
    // frequency, token tiebreak); for Jaccard >= 0.6 a doc of n grams
    // only needs its first n - ceil(0.6 n) + 1 grams indexed: any
    // qualifying pair's first common token (in canonical order) falls
    // inside BOTH prefixes, so joining prefixes on the token misses
    // nothing (zero false negatives, unlike LSH). The length filter
    // 3*na <= 5*nb && 3*nb <= 5*na prunes candidates a hot prefix
    // token would otherwise admit. Verification is the d05 shape:
    // exact intersection only on candidates, with the integer gate
    // 8i >= 3(na+nb)  <=>  i/(na+nb-i) >= 0.6 (no float threshold).
    // Scale: the candidate shuffle carries only prefix tokens — the
    // RAREST ~40% of each doc's vocabulary, so inverted-index buckets
    // stay small precisely where the join fans out (Zipf heads are
    // excluded from prefixes of any doc with enough rare tokens); the
    // df table is vocabulary-sized, not corpus-sized.
    "d20_prefix_filter_join" -> { (s, dir) =>
      // the memoized shingle frame IS this query's trigram universe
      // (same array_distinct(grams3(tokens(text))) projection); the
      // inline form recomputed it on every reference — three per run
      // (prefix explode + both verify sides)
      val toksDf = shingleSets(s, dir).withColumnRenamed("gs", "ts")
      val tok = toksDf.select(col("doc_id"), size(col("ts")).cast(LongType).as("n"),
        explode(col("ts")).as("tok"))
      val dfreq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
      // (r14 measured: localCheckpoint-ing `prefix` for the self-join
      // made the row 2× SLOWER — the two subtrees already share their
      // exchange, and the checkpoint serialized the heavy join input.
      // Left as the shared-plan form.)
      val prefix = tok.join(dfreq, "tok")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy(col("df"), col("tok"))))
        .filter(col("rn") <= col("n") - expr("(3 * n + 4) DIV 5") + lit(1))
        .select(col("doc_id"), col("n"), col("tok"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
            col("a.n") * 3 <= col("b.n") * 5 && col("b.n") * 3 <= col("a.n") * 5)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sa = toksDf.select(col("doc_id").as("doc_a"), col("ts").as("ta"))
      val sb = toksDf.select(col("doc_id").as("doc_b"), col("ts").as("tb"))
      cand.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ta"), col("tb"))).cast(LongType).as("i"),
          size(col("ta")).cast(LongType).as("na"),
          size(col("tb")).cast(LongType).as("nb"))
        .filter(col("i") * 8 >= (col("na") + col("nb")) * 3)
        .select(col("doc_a"), col("doc_b"),
          round6(col("i").cast(DoubleType) / (col("na") + col("nb") - col("i")))
            .as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // EXACT SUBSTRING dedup (the Lee et al. 2022 "Deduplicating Training
    // Data Makes Language Models Better" shape): find every K-token
    // window whose exact token sequence occurs at more than one position
    // in the corpus (any document, including elsewhere in the same one),
    // then collapse each doc's duplicated positions into maximal runs —
    // a run of R consecutive duplicated windows is one duplicated span
    // of R + K − 1 tokens, the unit a training pipeline would excise.
    // Scale shape: one explode to (doc, pos, window), ONE shuffle on the
    // window key for the multiplicity count, the (small) duplicated-key
    // set joined back, then doc-partitioned islands. At 100 TB the
    // window key would be a 64-bit rolling hash instead of the joined
    // string (shuffle bytes ∝ corpus × K otherwise) with a string verify
    // on the collided groups; here the exact string keeps the oracle
    // trivially identical. The dup-key join-back side is
    // duplicated-spans-only — small precisely when dup rate is low, the
    // common corpus case — and pinned with an explicit broadcast() so
    // the plan never depends on AQE's post-aggregate size estimate.
    "d22_substring_dedup" -> { (s, dir) =>
      // native one-pass window build (TokenWindowsExpr): the K−1
      // chained zip_with layers it replaces allocated K−1 intermediate
      // arrays per row with an interpreted lambda per element — the
      // dominant cost of this query's two span-side builds (equivalence
      // pinned by TokenWindowsSpec; zip chain kept there as reference)
      val spans = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"),
          posexplode(call_function("graft_token_windows", col("t"), lit(SpanK))))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("col").as("span"))
      val dupKeys = spans.groupBy("span").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select("span")
      val dup = spans.join(broadcast(dupKeys), "span").select("doc_id", "pos")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      dup
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(count(lit(1)).as("run"))
        .groupBy("doc_id")
        .agg(sum(col("run")).as("dup_windows"),
          count(lit(1)).as("n_runs"),
          (max(col("run")) + lit(SpanK - 1L)).as("max_span_tokens"))
        .orderBy("doc_id")
    },

    // SPLIT LEAKAGE audit — the reason decontamination matters: a
    // near-duplicate pair that straddles the p13 train/val/test
    // boundary leaks evaluation data into training however clean the
    // exact-dedup pass was (the p13 hash split is doc-ID-uniform, so it
    // splits near-dup CLUSTERS independently — ~1−Σfᵢ² of multi-doc
    // clusters cross a boundary in expectation). Composes the pinned
    // d05 verified pairs (LSH propose → exact Jaccard ≥ 0.5 verify)
    // with p13's split rule and keeps only cross-split pairs — the
    // actionable report: each row is a doc to quarantine or re-split.
    // Scale: the pair frame is near-dup-sized (tiny vs corpus), so the
    // corpus-sized split frame joins it by key; no new corpus pass
    // beyond the memoized prelude.
    "d23_split_leakage" -> { (s, dir) =>
      val bucket = pmod(h60(col("doc_id").cast(StringType)), lit(100L))
      val split = when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test")
      val splits = Tables(s, dir, "documents").select(col("doc_id"), split.as("split"))
      neardupPairs(s, dir)
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
          round6(col("j")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // BOILERPLATE-CHUNK removal — the C4/RefinedWeb line-dedup pass,
    // the granularity BETWEEN d01 (whole doc) and d22 (every K-token
    // window): cut each doc into NON-overlapping 10-token chunks, drop
    // every chunk whose exact text occurs more than once corpus-wide
    // (nav bars, license footers, templated headers), and REASSEMBLE
    // the surviving chunks in position order — this row is a corpus
    // TRANSFORM (the cleaned text, signed by md5), not just a report.
    // Scale shape: tokens explode once and chunk-build is ONE
    // (doc, chunk-id) aggregate (each token row carries one token —
    // building chunks by slicing the token array per chunk row would
    // carry the whole array into every exploded row, t14's bandwidth
    // lesson); the duplicated-chunk set is small precisely when the
    // corpus is mostly clean (d22's argument), so it rides back as a
    // BROADCAST anti/semi join; reassembly is one doc-keyed aggregate
    // with an in-row sort_array — never a corpus-sized window.
    "d24_chunk_clean" -> { (s, dir) =>
      val W = 10
      val ch = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .select(col("doc_id"), expr(s"CAST(pos AS BIGINT) DIV $W").as("cid"),
          col("pos").cast(LongType).as("tpos"), col("col").as("tok"))
        .groupBy("doc_id", "cid")
        .agg(array_join(transform(sort_array(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk"))
        // three consumers (dup counts, doc totals, reassembly) — without
        // materialization each re-plans the token explode + chunk
        // aggregate (the Generate appeared twice in the plan): one
        // corpus pass instead of three
        .localCheckpoint()
      val dup = ch.groupBy("chunk").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select("chunk")
      val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val clean = ch.join(broadcast(dup), Seq("chunk"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept"),
          md5(array_join(transform(sort_array(collect_list(struct(col("cid"), col("chunk")))),
            x => x.getField("chunk")), " ")).as("clean_sig"))
      tot.join(clean, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          (col("n_chunks") - coalesce(col("kept"), lit(0L))).as("removed"),
          coalesce(col("clean_sig"), lit(md5Empty)).as("clean_sig"))
        .orderBy("doc_id")
    },

    // LIVE streaming minhash near-dup dedup — Streaming.dedupNearStream
    // (previously spec-only) as a real file-stream query: the d08
    // signature (all K minhash slots, exact-content fallback for
    // shingle-less docs) computed as PURE per-row expressions — no
    // aggregation between source and dedup, which is what makes the
    // batch signature streamable at all — then watermarked
    // dropDuplicatesWithinWatermark on the key. The published column
    // is the signature itself (a function of CONTENT), so the result
    // is deterministic even though which carrier doc survives a
    // within-batch race is not. Oracle = d08's signature CTEs closed
    // into DISTINCT keys. State: one entry per distinct signature
    // inside the watermark horizon, evicted as it passes — bounded at
    // any corpus rate.
    "d21_stream_sig_dedup" -> { (s, dir) =>
      val src = Tables.stream(s, dir, "documents")
      val docs = src.withColumn("ts",
        timestamp_micros(col("doc_id") * 1000000L + lit(86400000000L)))
      val deduped = graft.streaming.Streaming.dedupNearStream(docs)
        .select(col("sig_key"))
      drainToMemory(deduped, "append").orderBy("sig_key")
    }
  )

  /** One-pass banded candidate pairs for EVERY rows-per-band config in
    * {1,2,4,8}: (r, doc_a, doc_b), cross-band repeats possible. The
    * config dimension is EXPLODED into the grouping/join key instead of
    * unioning four copies of the banding subtree (a first cut that
    * unioned per-config subtrees carried 59 exchanges in a 454-node plan
    * and spent 21 s at sf0.1 in planning + per-stage overhead on
    * kilobytes of data). Band signatures are SLICE PROJECTIONS of the
    * memoized slot array (slots[k] is already in k order), not an
    * aggregation; bucket members materialize as one sorted array per
    * bucket and the pairs are generated INSIDE the row (nested
    * transform, <= MaxBucket²/2 pairs per row under the same cap): the
    * only shuffles are the bucket groupBy and whatever the caller adds.
    */
  private[queries] def bandSweepCandidates(
      arr: DataFrame, configs: Seq[Long] = Seq(1L, 2L, 4L, 8L)): DataFrame = {
    val bsig = arr
      .withColumn("rpb", explode(array(configs.map(lit): _*)))
      .select(col("doc_id"), col("rpb"),
        posexplode(transform(
          sequence(lit(0), (lit(MinhashK) / col("rpb")).cast(IntegerType) - 1),
          b => array_join(transform(
            slice(col("slots"), b * col("rpb").cast(IntegerType) + 1,
              col("rpb").cast(IntegerType)),
            v => v.cast(StringType)), ","))))
      .toDF("doc_id", "rpb", "band", "bs")
    // count-filter → self-join (the lshCandidates shape) — r13: the
    // earlier collect_list form materialized each bucket's FULL doc
    // list before size-filtering it (unbounded per-key state at scale,
    // where this count-filter caps it at the exchange), and its ~80k
    // grouping keys tripped ObjectHashAggregate's 128-entry sort-based
    // fallback (measured: d13's sample sweep ran 14-16 s single-task
    // jobs; the join form aggregates longs only). Same (r, doc_a,
    // doc_b) multiset: every unordered pair co-bucketed under a config,
    // once per (band, bucket), doc_a < doc_b — oracle-pinned via
    // d12/d13/d17.
    val small = bsig.groupBy("rpb", "band", "bs")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2, MaxBucket))
    // same (rpb, band, bs) shuffle key as the self-join below → reuse
    val pruned = bsig.join(small, Seq("rpb", "band", "bs"))
    val a = pruned.as("a")
    val b = pruned.as("b")
    a.join(b,
        col("a.rpb") === col("b.rpb") && col("a.band") === col("b.band") &&
          col("a.bs") === col("b.bs") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.rpb").as("r"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
  }

  /** Exact n-gram-Jaccard filter (j >= 0.5) over candidate (doc_a,
    * doc_b) pairs — the shared propose-then-verify tail. */
  private def exactVerified(s: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val sets = shingleSets(s, dir)
    val inter = size(array_intersect(col("gsa"), col("gsb")))
    cand
      .join(sets.toDF("doc_a", "gsa"), "doc_a")
      .join(sets.toDF("doc_b", "gsb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), (inter.cast(DoubleType) /
        (size(col("gsa")) + size(col("gsb")) - inter)).as("j"))
      .filter(col("j") >= 0.5)
      .select("doc_a", "doc_b")
  }

  /** The d12 sweep over a given slot-array frame (full corpus for d12,
    * the 50% sample for d13), given its (r, doc_a, doc_b) candidates: per-config candidate count, exact-verified
    * true-pair count, and the 1-row reference count (union of true pairs
    * any config surfaced) broadcast back.
    */
  private def sweepStats(s: SparkSession, dir: String, cands: DataFrame,
      materializeCands: Boolean = false): DataFrame = {
    // r13: verify each DISTINCT pair once and join the per-config pair
    // sets back against the verdicts — the earlier collect_set(r) per
    // pair carried array state through an ObjectHashAggregate whose
    // tens-of-thousands of keys tripped the 128-entry sort-based
    // fallback (and an exploded re-count after scoring); this form is
    // plain codegen'd hash aggregates + one broadcast-back join. Same
    // numbers: n_cand(r) = distinct pairs r proposed, n_true(r) = those
    // exact-verified at 0.5, n_ref = verified pairs ANY config surfaced.
    // r14 (materializeCands = d13's sample path): the caller's candidate
    // frame is a LAZY plan referenced twice below (the pair union and
    // the per-config stats), so the whole banded self-join ran twice —
    // the checkpoint runs it once (measured d13 6.4 → 4.9 s). d12 passes
    // false: its cands are the memoized persisted sweep frame, and the
    // extra materialization pass cost more than the reuse saved
    // (measured d12 1.3 → 1.9 s with it on). Pair-volume either way.
    val pc0 = cands.select(col("r").as("rows_per_band"), col("doc_a"), col("doc_b"))
      .distinct()
    val pc = if (materializeCands) pc0.localCheckpoint() else pc0
    val pairs = pc.select("doc_a", "doc_b").distinct()
    val sets = shingleSets(s, dir)
    val inter = size(array_intersect(col("gsa"), col("gsb")))
    // verdicts likewise have two consumers (the reference count + the
    // per-config join-back) — one checkpointed verify pass, not two
    // (same measured trade as pc: only worth it on the lazy d13 path)
    val verdicts0 = pairs
      .join(sets.toDF("doc_a", "gsa"), "doc_a")
      .join(sets.toDF("doc_b", "gsb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), (inter.cast(DoubleType) /
        (size(col("gsa")) + size(col("gsb")) - inter)).as("j"))
      .select(col("doc_a"), col("doc_b"),
        when(col("j") >= 0.5, 1L).otherwise(0L).as("is_true"))
    val verdicts = if (materializeCands) verdicts0.localCheckpoint() else verdicts0
    val ref = verdicts.agg(sum(col("is_true")).as("n_ref"))
    pc
      .join(verdicts, Seq("doc_a", "doc_b"))
      .groupBy("rows_per_band")
      .agg(count(lit(1)).as("n_cand"), sum(col("is_true")).as("n_true"))
      .crossJoin(broadcast(ref))
  }

  val oracleSql: Map[String, String] = Map(
    "d01_dedup_exact" ->
      """SELECT sha256(text) AS h, min(doc_id) AS keep_id, count(*) AS cnt
        |FROM documents GROUP BY h ORDER BY keep_id""".stripMargin,
    // d01's hash keeper → d08's signature keeper among tier-1
    // survivors → d09's CC losers dropped; four 1-row tier aggregates
    "d25_dedup_funnel" ->
      s"""WITH RECURSIVE $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |pr AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |        (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |    FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |  WHERE j >= 0.5),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |n AS (SELECT DISTINCT s AS v FROM e),
         |reach AS (
         |  SELECT v, v AS l FROM n
         |  UNION
         |  SELECT e.d, r.l FROM reach r JOIN e ON e.s = r.v),
         |losers AS (
         |  SELECT v AS doc_id FROM (SELECT v, min(l) AS cl FROM reach GROUP BY v)
         |  WHERE cl <> v),
         |d AS (SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
         |ex AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY sha256(text)),
         |s1 AS (SELECT d.doc_id, d.text, d.toks FROM d JOIN ex USING (doc_id)),
         |keys AS (
         |  SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS sig_key
         |  FROM sig GROUP BY doc_id),
         |keyed AS (
         |  SELECT s1.doc_id, coalesce(k.sig_key, s1.text) AS sig_key
         |  FROM s1 LEFT JOIN keys k USING (doc_id)),
         |k2 AS (SELECT min(doc_id) AS doc_id FROM keyed GROUP BY sig_key),
         |s2 AS (SELECT s1.doc_id, s1.toks FROM s1 JOIN k2 USING (doc_id)),
         |s3 AS (SELECT s2.doc_id, s2.toks FROM s2
         |  WHERE s2.doc_id NOT IN (SELECT doc_id FROM losers)),
         |f AS (
         |  SELECT 0 AS stage, 'raw' AS tier, count(*) AS docs,
         |    CAST(sum(toks) AS BIGINT) AS tokens FROM d
         |  UNION ALL SELECT 1, 'exact', count(*), CAST(sum(toks) AS BIGINT) FROM s1
         |  UNION ALL SELECT 2, 'near_sig', count(*), CAST(sum(toks) AS BIGINT) FROM s2
         |  UNION ALL SELECT 3, 'near_cluster', count(*), CAST(sum(toks) AS BIGINT) FROM s3)
         |SELECT CAST(stage AS BIGINT) AS stage, tier, docs, tokens
         |FROM f ORDER BY stage""".stripMargin,
    "d02_minhash_pairs" ->
      s"""WITH $sqlSigs,
         |$sqlCand
         |SELECT doc_a, doc_b, count(*) AS matches
         |FROM cand
         |JOIN sig sa ON doc_a = sa.doc_id
         |JOIN sig sb ON doc_b = sb.doc_id AND sa.k = sb.k AND sa.v = sb.v
         |GROUP BY 1, 2 HAVING count(*) >= ${MinhashK / 2}
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d03_minhash_lsh" ->
      s"""WITH $sqlSigs,
         |$sqlCand
         |SELECT doc_a, doc_b FROM cand
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d04_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
         |votes AS (
         |  SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS vote
         |  FROM h, (SELECT unnest(range(0, 32)) AS i) bits
         |  GROUP BY doc_id, i)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
         |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d05_ngram_jaccard" ->
      s"""WITH $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |      (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |  FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |SELECT doc_a, doc_b, floor((j) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM scored WHERE j >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // same sig/cand/sets chain as d05; containment divides the
    // intersection by each side's own set size (filter applies to the
    // ROUNDED max, mirroring the Spark post-round filter)
    "d18_containment" ->
      s"""WITH $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(a.gs) AS ra,
         |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) / len(b.gs) AS rb
         |  FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id),
         |rounded AS (
         |  SELECT doc_a, doc_b,
         |    floor((ra) * 1000000.0 + 0.5) / 1000000.0 AS cont_a,
         |    floor((rb) * 1000000.0 + 0.5) / 1000000.0 AS cont_b,
         |    floor((greatest(ra, rb)) * 1000000.0 + 0.5) / 1000000.0 AS cont_max
         |  FROM scored)
         |SELECT * FROM rounded WHERE cont_max >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin,
    // same sig/cand/sets/pair chain as d05, then min-label fixpoint as a
    // recursive CTE (UNION dedupes, so the recursion terminates at the
    // component closure; min(l) per vertex = component min = cluster id)
    "d07_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |pr AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |        (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |    FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |  WHERE j >= 0.5),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |n AS (SELECT DISTINCT s AS v FROM e),
         |reach AS (
         |  SELECT v, v AS l FROM n
         |  UNION
         |  SELECT e.d, r.l FROM reach r JOIN e ON e.s = r.v)
         |SELECT v AS doc_id, min(l) AS cluster_id
         |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin,
    // the d07 fixpoint chain gives cluster labels; the PageRank layers
    // (ops.PageRank.sqlCtes, 3 iterations, same constants as the Spark
    // side) rank the same verified pair graph; keeper = rank-argmax
    // per cluster with min-doc_id tiebreak
    "d19_central_keeper" ->
      s"""WITH RECURSIVE $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |prj AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |        (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |    FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |  WHERE j >= 0.5),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM prj
         |      UNION ALL SELECT doc_b, doc_a FROM prj),
         |n AS (SELECT DISTINCT s AS v FROM e),
         |reach AS (
         |  SELECT v, v AS l FROM n
         |  UNION
         |  SELECT e.d, r.l FROM reach r JOIN e ON e.s = r.v),
         |lab AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v),
         |${graft.ops.PageRank.sqlCtes(
        "SELECT doc_a AS src, doc_b AS dst FROM prj UNION ALL SELECT doc_b AS src, doc_a AS dst FROM prj", 3)},
         |ranked AS (
         |  SELECT lab.doc_id, lab.cluster_id, pr.rank,
         |    row_number() OVER (PARTITION BY cluster_id
         |                       ORDER BY rank DESC, lab.doc_id) AS rn
         |  FROM lab JOIN pr ON lab.doc_id = pr.node)
         |SELECT doc_id, cluster_id, rank FROM ranked WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,
    "d10_edit_verify" ->
      s"""WITH $sqlSigs,
         |$sqlCand,
         |p AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
         |  floor((1.0 - CAST(levenshtein(a.p, b.p) AS DOUBLE) /
         |    greatest(length(a.p), length(b.p))) * 1000000.0 + 0.5) / 1000000.0 AS sim
         |FROM cand JOIN p a ON doc_a = a.doc_id JOIN p b ON doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the d07 fixpoint chain, then survivors = docs that are not a
    // non-min member of any component
    "d09_dedup_keep" ->
      s"""WITH RECURSIVE $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |pr AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |        (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |    FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |  WHERE j >= 0.5),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |n AS (SELECT DISTINCT s AS v FROM e),
         |reach AS (
         |  SELECT v, v AS l FROM n
         |  UNION
         |  SELECT e.d, r.l FROM reach r JOIN e ON e.s = r.v),
         |losers AS (
         |  SELECT v AS doc_id FROM (SELECT v, min(l) AS cl FROM reach GROUP BY v)
         |  WHERE cl <> v)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // per-doc signature string from the shared sig CTE; docs absent from
    // sig (no shingles) fall back to exact text via the LEFT JOIN
    "d08_sig_dedup" ->
      s"""WITH $sqlSigs,
         |keys AS (
         |  SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS sig_key
         |  FROM sig GROUP BY doc_id),
         |keyed AS (
         |  SELECT d.doc_id, coalesce(k.sig_key, d.text) AS sig_key
         |  FROM documents d LEFT JOIN keys k ON d.doc_id = k.doc_id)
         |SELECT min(doc_id) AS keep_id, count(*) AS cnt
         |FROM keyed GROUP BY sig_key ORDER BY keep_id""".stripMargin,
    "d06_embed_neardup" -> {
      val dab = sqlDotSeq("a.e", "b.e")
      s"""WITH v AS (SELECT vec_id, ${sqlL2Normalize("embedding::DOUBLE[]")} AS e FROM embeddings)
         |SELECT vec_a, vec_b, floor((c) * 1000000.0 + 0.5) / 1000000.0 AS cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $dab AS c
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
         |WHERE c >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin
    },
    "d15_blocking_eval" -> {
      val sigExpr = (0 until 16).map { j =>
        val hp = sqlHyperplane(j)
        s"(CASE WHEN ${sqlDotSeq(hp, "e")} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val cfgRows = Seq((2, 8), (4, 4), (8, 2))
        .flatMap { case (r, b) => (0 until b).map(k => s"($r, $k)") }
        .mkString(", ")
      s"""WITH v AS (SELECT vec_id, ${sqlL2Normalize("embedding::DOUBLE[]")} AS e FROM embeddings),
         |sg AS (SELECT vec_id, CAST($sigExpr AS BIGINT) AS sig FROM v),
         |cfg(r, band) AS (VALUES $cfgRows),
         |keys AS (
         |  SELECT vec_id, r, band,
         |         sig & (((CAST(1 AS BIGINT) << r) - 1) << (r * band)) AS bucket
         |  FROM sg CROSS JOIN cfg),
         |prop AS (
         |  SELECT DISTINCT a.r AS r, a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM keys a JOIN keys b
         |    ON a.r = b.r AND a.band = b.band AND a.bucket = b.bucket
         |   AND a.vec_id < b.vec_id),
         |ver AS (
         |  SELECT p.r, CASE WHEN ${sqlDotSeq("va.e", "vb.e")} >= 0.4 THEN 1 ELSE 0 END AS hit
         |  FROM prop p JOIN v va ON p.vec_a = va.vec_id JOIN v vb ON p.vec_b = vb.vec_id),
         |ext AS (
         |  SELECT count(*) AS exact_total FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE ${sqlDotSeq("a.e", "b.e")} >= 0.4)
         |SELECT CAST(r AS INT) AS bits_per_band, CAST(16 // r AS BIGINT) AS bands,
         |       count(*) AS proposed, CAST(sum(hit) AS BIGINT) AS found, exact_total,
         |       floor((sum(hit) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS "precision",
         |       floor((sum(hit) / exact_total) * 1000000.0 + 0.5) / 1000000.0 AS recall
         |FROM ver CROSS JOIN ext
         |GROUP BY r, exact_total ORDER BY bits_per_band""".stripMargin
    },
    // same signature/banding replay as d15, re-scored at each
    // verification threshold; th-literals cast to DOUBLE so both
    // engines compare the same IEEE values
    "d17_threshold_sweep" -> {
      val sigExpr = (0 until 16).map { j =>
        val hp = sqlHyperplane(j)
        s"(CASE WHEN ${sqlDotSeq(hp, "e")} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      val cfgRows = Seq((2, 8), (4, 4), (8, 2))
        .flatMap { case (r, b) => (0 until b).map(k => s"($r, $k)") }
        .mkString(", ")
      s"""WITH v AS (SELECT vec_id, ${sqlL2Normalize("embedding::DOUBLE[]")} AS e FROM embeddings),
         |sg AS (SELECT vec_id, CAST($sigExpr AS BIGINT) AS sig FROM v),
         |cfg(r, band) AS (VALUES $cfgRows),
         |th AS (SELECT CAST(t AS DOUBLE) AS t
         |       FROM (VALUES (0.4), (0.45), (0.5)) tt(t)),
         |keys AS (
         |  SELECT vec_id, r, band,
         |         sig & (((CAST(1 AS BIGINT) << r) - 1) << (r * band)) AS bucket
         |  FROM sg CROSS JOIN cfg),
         |prop AS (
         |  SELECT DISTINCT a.r AS r, a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM keys a JOIN keys b
         |    ON a.r = b.r AND a.band = b.band AND a.bucket = b.bucket
         |   AND a.vec_id < b.vec_id),
         |pc AS (
         |  SELECT p.r, ${sqlDotSeq("va.e", "vb.e")} AS c
         |  FROM prop p JOIN v va ON p.vec_a = va.vec_id JOIN v vb ON p.vec_b = vb.vec_id),
         |ver AS (
         |  SELECT t, r, CASE WHEN c >= t THEN 1 ELSE 0 END AS hit
         |  FROM pc CROSS JOIN th),
         |ext AS (
         |  SELECT t, count(*) AS exact_total
         |  FROM (SELECT ${sqlDotSeq("a.e", "b.e")} AS c
         |        FROM v a JOIN v b ON a.vec_id < b.vec_id) CROSS JOIN th
         |  WHERE c >= t GROUP BY t)
         |SELECT ver.t AS threshold, CAST(ver.r AS INT) AS bits_per_band,
         |       CAST(16 // ver.r AS BIGINT) AS bands,
         |       count(*) AS proposed, CAST(sum(hit) AS BIGINT) AS found, exact_total,
         |       floor((sum(hit) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS "precision",
         |       floor((sum(hit) / exact_total) * 1000000.0 + 0.5) / 1000000.0 AS recall
         |FROM ver JOIN ext ON ver.t = ext.t
         |GROUP BY ver.t, ver.r, exact_total ORDER BY threshold, bits_per_band""".stripMargin
    },
    // v + the unrolled k-means fit layers come from Quantizer.sqlCtes
    // (the same constants the Spark side trains with); `akm` is the
    // trained assignment, `label` the control
    "d16_blocking_compare" -> {
      val dab = sqlDotSeq("a.e", "b.e")
      def legSql(name: String, asgn: String): String =
        s"""SELECT '$name' AS quantizer,
           |  (SELECT CAST(SUM((n * (n - 1)) // 2) AS BIGINT)
           |   FROM (SELECT count(*) AS n FROM $asgn GROUP BY key)) AS proposed,
           |  (SELECT count(*) FROM ex
           |   JOIN $asgn aa ON ex.vec_a = aa.vec_id
           |   JOIN $asgn bb ON ex.vec_b = bb.vec_id AND aa.key = bb.key) AS found""".stripMargin
      s"""WITH ${Quantizer.sqlCtes},
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS key FROM embeddings),
         |kma AS (SELECT vec_id, CAST(cid AS BIGINT) AS key FROM akm),
         |ex AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE $dab >= 0.4),
         |ext AS (SELECT count(*) AS exact_total FROM ex),
         |legs AS (
         |  ${legSql("kmeans", "kma")}
         |  UNION ALL
         |  ${legSql("label", "lab")})
         |SELECT quantizer, proposed, found, exact_total,
         |  floor((CAST(found AS DOUBLE) / CAST(proposed AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS "precision",
         |  floor((CAST(found AS DOUBLE) / CAST(exact_total AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall
         |FROM legs CROSS JOIN ext ORDER BY quantizer""".stripMargin
    },
    "d14_incremental_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id % 3 AS day, substr(text, 1, 80) AS h FROM documents),
        |m AS (
        |  SELECT doc_id, day,
        |         min(doc_id) OVER (PARTITION BY h, day) AS min_id,
        |         min(day) OVER (PARTITION BY h) AS min_day
        |  FROM d)
        |SELECT CAST(day AS INT) AS day, doc_id FROM m
        |WHERE doc_id = min_id AND day = min_day
        |ORDER BY day, doc_id""".stripMargin,
    // `v` + the trained assignment `akm` come from Quantizer.sqlCtes —
    // the same unrolled k-means layers the d16/s11 oracles replay
    "d11_semdedup" -> {
      val dab = sqlDotSeq("va.e", "vb.e")
      s"""WITH ${Quantizer.sqlCtes},
         |pairs AS (
         |  SELECT b.vec_id AS vec_id, b.cid AS cid, $dab AS c
         |  FROM akm a JOIN akm b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN v va ON va.vec_id = a.vec_id
         |  JOIN v vb ON vb.vec_id = b.vec_id)
         |SELECT vec_id, cid, count(*) AS n_close,
         |  floor((max(c)) * 1000000.0 + 0.5) / 1000000.0 AS max_cos
         |FROM pairs WHERE c >= 0.3
         |GROUP BY vec_id, cid ORDER BY vec_id""".stripMargin
    },
    "d12_lsh_tuning" -> {
      val rs = Seq(1, 2, 4, 8)
      s"""WITH $sqlSigs,
         |${rs.map(r => sqlCandR(r)).mkString(",\n")},
         |allc AS (${rs.map(r => s"SELECT $r AS r, doc_a, doc_b FROM cand$r")
                      .mkString(" UNION ALL ")}),
         |dp AS (SELECT DISTINCT doc_a, doc_b FROM allc),
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |tr AS (
         |  SELECT doc_a, doc_b,
         |    CASE WHEN CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |      (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5
         |    THEN 1 ELSE 0 END AS is_true
         |  FROM dp JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id),
         |ref AS (SELECT CAST(sum(is_true) AS BIGINT) AS n_ref FROM tr),
         |st AS (
         |  SELECT r, count(*) AS n_cand, CAST(sum(is_true) AS BIGINT) AS n_true
         |  FROM allc JOIN tr USING (doc_a, doc_b) GROUP BY r)
         |SELECT CAST(r AS BIGINT) AS rows_per_band,
         |  CAST($MinhashK // r AS BIGINT) AS bands, n_cand, n_true,
         |  floor((CAST(n_true AS DOUBLE) / CAST(n_cand AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS prec,
         |  floor((CAST(n_true AS DOUBLE) / CAST(n_ref AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS recall
         |FROM st, ref ORDER BY rows_per_band""".stripMargin
    },
    // the whole tune-then-apply pipeline in one statement: sample sweep
    // (s-tagged banding CTEs over the 50% sample) -> F1 argmax with the
    // r=8 fallback row -> full-corpus banding (f-tagged) filtered to the
    // chosen config -> exact verify -> recursive-CTE components -> keep
    "d13_auto_dedup" -> {
      val rs = Seq(1, 2, 4, 8)
      s"""WITH RECURSIVE $sqlSigs,
         |ssig AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
         |${rs.map(r => sqlCandR(r, "ssig", "s")).mkString(",\n")},
         |sallc AS (${rs.map(r => s"SELECT $r AS r, doc_a, doc_b FROM cands$r")
                      .mkString(" UNION ALL ")}),
         |sdp AS (SELECT DISTINCT doc_a, doc_b FROM sallc),
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |str AS (
         |  SELECT doc_a, doc_b,
         |    CASE WHEN CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |      (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.5
         |    THEN 1 ELSE 0 END AS is_true
         |  FROM sdp JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id),
         |sref AS (SELECT CAST(sum(is_true) AS BIGINT) AS n_ref FROM str),
         |sstat AS (
         |  SELECT r, count(*) AS n_cand, CAST(sum(is_true) AS BIGINT) AS n_true
         |  FROM sallc JOIN str USING (doc_a, doc_b) GROUP BY r),
         |sf1 AS (
         |  SELECT rows_per_band,
         |    CASE WHEN p + rec > 0.0 THEN 2.0 * p * rec / (p + rec) ELSE 0.0 END AS f1
         |  FROM (
         |    SELECT r AS rows_per_band,
         |      CAST(n_true AS DOUBLE) / CAST(n_cand AS DOUBLE) AS p,
         |      CASE WHEN n_ref > 0 THEN CAST(n_true AS DOUBLE) / CAST(n_ref AS DOUBLE)
         |           ELSE 0.0 END AS rec
         |    FROM sstat, sref)),
         |chosen AS (
         |  SELECT CAST(rows_per_band AS BIGINT) AS chosen_r FROM (
         |    SELECT rows_per_band, f1,
         |      row_number() OVER (ORDER BY f1 DESC, rows_per_band DESC) AS rn
         |    FROM (SELECT * FROM sf1 UNION ALL SELECT 8, -1.0)) WHERE rn = 1),
         |${rs.map(r => sqlCandR(r, "sig", "f")).mkString(",\n")},
         |fallc AS (${rs.map(r => s"SELECT $r AS r, doc_a, doc_b FROM candf$r")
                      .mkString(" UNION ALL ")}),
         |fc AS (SELECT DISTINCT doc_a, doc_b FROM fallc JOIN chosen ON r = chosen_r),
         |pr AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |        (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |    FROM fc JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id)
         |  WHERE j >= 0.5),
         |e AS (SELECT doc_a AS s, doc_b AS d FROM pr
         |      UNION ALL SELECT doc_b, doc_a FROM pr),
         |n AS (SELECT DISTINCT s AS v FROM e),
         |reach AS (
         |  SELECT v, v AS l FROM n
         |  UNION
         |  SELECT e.d, r2.l FROM reach r2 JOIN e ON e.s = r2.v),
         |losers AS (
         |  SELECT v AS doc_id FROM (SELECT v, min(l) AS cl FROM reach GROUP BY v)
         |  WHERE cl <> v)
         |SELECT d.doc_id, chosen_r FROM documents d, chosen
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY d.doc_id""".stripMargin
    },

    // independent restatement of the prefix-filter join; the integer
    // threshold gate 8i >= 3(na+nb) and the DIV 5 prefix length keep
    // both engines float-free until the displayed jaccard
    "d20_prefix_filter_join" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |toks AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ts
        |  FROM words),
        |tok AS (SELECT doc_id, len(ts) AS n, unnest(ts) AS tok FROM toks),
        |dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
        |prefix AS (
        |  SELECT doc_id, n, tok FROM (
        |    SELECT t.doc_id, t.n, t.tok,
        |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
        |    FROM tok t JOIN dfreq d ON t.tok = d.tok)
        |  WHERE rn <= n - ((3 * n + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |    AND a.n * 3 <= b.n * 5 AND b.n * 3 <= a.n * 5),
        |v AS (
        |  SELECT doc_a, doc_b, len(list_intersect(x.ts, y.ts)) AS i,
        |    len(x.ts) AS na, len(y.ts) AS nb
        |  FROM cand JOIN toks x ON doc_a = x.doc_id JOIN toks y ON doc_b = y.doc_id)
        |SELECT doc_a, doc_b,
        |  floor((CAST(i AS DOUBLE) / (na + nb - i)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |FROM v WHERE i * 8 >= (na + nb) * 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // positions are 1-based here vs Spark's 0-based posexplode — the
    // published columns (counts, runs) are translation-invariant.
    // sum(run) over BIGINT is HUGEINT in DuckDB → explicit BIGINT cast
    // (the r5 type-drift class; check.py is type-exact now)
    "d22_substring_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |w AS (
         |  SELECT doc_id, list_transform(
         |    range(1, greatest(len(t) - ${SpanK - 1}, 0) + 1),
         |    i -> array_to_string(t[i:i+${SpanK - 1}], ' ')) AS sp
         |  FROM toks),
         |spans AS (
         |  SELECT doc_id, unnest(range(1, len(sp) + 1)) AS pos, unnest(sp) AS span
         |  FROM w WHERE len(sp) > 0),
         |dupkeys AS (SELECT span FROM spans GROUP BY span HAVING count(*) > 1),
         |dup AS (SELECT doc_id, pos FROM spans JOIN dupkeys USING (span)),
         |runs AS (
         |  SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM dup),
         |r AS (SELECT doc_id, grp, count(*) AS run FROM runs GROUP BY doc_id, grp)
         |SELECT doc_id, CAST(sum(run) AS BIGINT) AS dup_windows,
         |  count(*) AS n_runs, max(run) + ${SpanK - 1} AS max_span_tokens
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d05's verified pairs joined to p13's split rule; only cross-split
    // survivors
    "d23_split_leakage" ->
      s"""WITH $sqlSigs,
         |$sqlCand,
         |sets AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(t) - 1, 1)),
         |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gs
         |  FROM toks),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE) /
         |      (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS j
         |  FROM cand JOIN sets a ON doc_a = a.doc_id JOIN sets b ON doc_b = b.doc_id),
         |sp AS (
         |  SELECT doc_id, CASE
         |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
         |    WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
         |    ELSE 'test' END AS split
         |  FROM documents)
         |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b,
         |  floor((j) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM scored JOIN sp sa ON doc_a = sa.doc_id JOIN sp sb ON doc_b = sb.doc_id
         |WHERE j >= 0.5 AND sa.split <> sb.split
         |ORDER BY doc_a, doc_b""".stripMargin,

    // non-overlapping 10-token chunks by list slicing; duplicated
    // chunks excluded by NOT IN; reassembly = ordered string_agg
    "d24_chunk_clean" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (
        |  SELECT doc_id, pos, array_to_string(t[pos*10+1 : pos*10+10], ' ') AS chunk
        |  FROM (SELECT doc_id, t, unnest(range(0, (len(t)+9)//10)) AS pos FROM toks)),
        |dup AS (SELECT chunk FROM ch GROUP BY chunk HAVING count(*) > 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
        |cl AS (
        |  SELECT doc_id, count(*) AS kept,
        |    md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_sig
        |  FROM ch WHERE chunk NOT IN (SELECT chunk FROM dup)
        |  GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks,
        |  CAST(coalesce(cl.kept, 0) AS BIGINT) AS kept,
        |  CAST(t.n_chunks - coalesce(cl.kept, 0) AS BIGINT) AS removed,
        |  coalesce(cl.clean_sig, md5('')) AS clean_sig
        |FROM tot t LEFT JOIN cl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // the streaming run's closed form: one batch inside the watermark
    // horizon keeps exactly one row per distinct d08 signature, and the
    // published column IS the signature
    "d21_stream_sig_dedup" ->
      s"""WITH $sqlSigs,
         |keys AS (
         |  SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS sig_key
         |  FROM sig GROUP BY doc_id),
         |keyed AS (
         |  SELECT d.doc_id, coalesce(k.sig_key, d.text) AS sig_key
         |  FROM documents d LEFT JOIN keys k ON d.doc_id = k.doc_id)
         |SELECT DISTINCT sig_key FROM keyed ORDER BY sig_key""".stripMargin
  )
}
