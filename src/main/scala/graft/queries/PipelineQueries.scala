package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.NumFns.round6
import graft.functions.TextFns._
import graft.streaming.Streaming.drainToMemory

/** Composed training-data-prep pipelines: the individual operators
  * (quality scoring t02, exact dedup d01, token counting t03) chained
  * the way a real corpus-cleaning job runs them. One oracle-checked
  * query so the COMPOSITION is pinned, not just the parts.
  *
  * Scale shape: quality scoring is pure per-row expressions fused into
  * the scan; dedup is the single content-hash shuffle; `min(struct)`
  * picks the keeper without a join-back or window. One scan, one
  * shuffle, end to end.
  */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // quality-filter -> exact-dedup(keep lowest doc_id) -> survivors
    // with their stats and duplicate multiplicity
    "p01_clean_corpus" -> { (s, dir) =>
      val toks = tokens(col("text"))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          size(toks).cast(LongType).as("words"),
          (length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
            size(toks)).as("awl"),
          (stopwordHits(toks, StopEn).cast(DoubleType) / size(toks)).as("sr"))
        .withColumn("quality",
          round6(lit(0.5) * least(col("words") / 100.0, lit(1.0)) +
            lit(0.3) * least(col("awl") / 8.0, lit(1.0)) +
            lit(0.2) * col("sr")))
        .filter(col("quality") >= 0.5)
      scored
        .groupBy(sha2(col("text"), 256).as("h"))
        // duplicates share the text, hence identical stats; min(struct)
        // keeps the lowest-doc_id row in the same shuffle as the count
        .agg(min(struct(col("doc_id"), col("words"), col("quality"))).as("kept"),
          count(lit(1)).as("dups"))
        .select(col("kept.doc_id").as("doc_id"), col("kept.words").as("words"),
          col("kept.quality").as("quality"), col("dups"))
        .orderBy("doc_id")
    },

    // Benchmark-contamination check: fraction of a candidate document's
    // distinct word-3-grams that appear in a benchmark set (stand-in:
    // every 20th doc). Scale shape: the benchmark gram set is SMALL by
    // nature (eval suites, not corpora) -> broadcast it; candidates are
    // scored in one scan + one aggregation, no inverted-index shuffle.
    "p02_contamination" -> { (s, dir) =>
      // widened (r13): the gram explode is the query's heavy per-row
      // pass and the test file's single split ran BOTH references (bench
      // + probe sides) single-task; one tiny text shuffle when narrow,
      // identity at scale (the memo-build widen rationale, per-query)
      val grams = Tables.widenIfNarrow(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          explode(array_distinct(grams3(tokens(col("text"))))).as("g"))
      val bench = grams.filter(col("doc_id") % 20 === 0)
        .select("g").distinct().withColumn("hit", lit(1L))
      grams.filter(col("doc_id") % 20 =!= 0)
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .withColumn("contamination",
          round6(col("n_overlap").cast(DoubleType) / col("n_grams")))
        .filter(col("contamination") >= 0.5)
        .orderBy("doc_id")
    },

    // Weighted corpus MIXING to a document budget — the data-prep step
    // that assembles a training mix ("2 parts src-A to 1 part src-B")
    // when source sizes are unknown upfront. Unlike p03 (config rates),
    // the keep-rate is COMPUTED FROM THE DATA in the same plan: count
    // per source (one tiny agg), join the per-source weight, derive
    // pct = min(100, floor(100·B·w / (Σw·n_s))), broadcast the ~|sources|
    // rate rows back onto the corpus, keep doc when its deterministic
    // md5-bucket < pct. Scale shape: one count agg + one broadcast join
    // + one scan — the corpus itself shuffles nothing, and the sample is
    // reproducible run-to-run/engine-to-engine (same md5 bucket trick as
    // p03). Weight = (trailing digits of source) % 3 + 1 so both engines
    // derive it from the name alone; budget B = 200 docs.
    "p04_source_mix" -> { (s, dir) =>
      val B = 200L
      val docs = Tables(s, dir, "documents")
      val counts = docs.groupBy("source")
        .agg(count(lit(1)).as("n"))
        .withColumn("w",
          regexp_extract(col("source"), "([0-9]+)$", 1).cast(LongType) % 3 + 1)
      // Σw via an unpartitioned window over the |sources|-row counts
      // frame (single tiny task) — no scalar cross join in the plan
      val sumw = sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy())
      val rates = counts
        .select(col("source"),
          least(lit(100L),
            floor(lit(100.0) * B * col("w") / (sumw * col("n")))
              .cast(LongType)).as("pct"))
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType), lit(100L))
      docs.select(col("doc_id"), col("source"), bucket.as("bucket"))
        .join(broadcast(rates), "source")
        .filter(col("bucket") < col("pct"))
        .select(col("doc_id"), col("source"), col("bucket"), col("pct"))
        .orderBy("doc_id")
    },

    // PII scrubbing: regex redaction over the text column — count the
    // hits, replace each with a fixed token, report the cleaned text.
    // The pattern set is the real PII shape (an email alternation) plus
    // word-blocklist stand-ins that actually occur in the synthetic
    // corpus (no genuine PII exists in the test tables — same stance as
    // the multimodal codec stub: the plumbing is real and oracle-checked,
    // the lexicon is configuration). Scale shape: pure per-row codegen'd
    // regex expressions fused into the scan — no shuffle, no UDF; at
    // 100 TB this runs at parquet-scan speed.
    "p05_redact" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(PiiPattern), lit(0)))
            .cast(LongType).as("n_pii"),
          regexp_replace(col("text"), PiiPattern, "[PII]").as("clean"))
        .withColumn("clean_chars", length(col("clean")).cast(LongType))
        .orderBy("doc_id")
    },

    // Document CHUNKING: fixed token windows with overlap (stride <
    // window) — the step that turns cleaned documents into training
    // sequences. Window 64 tokens, stride 48 (16-token overlap so no
    // boundary context is lost). Scale shape: starts come from a
    // per-row `sequence` + one explode — no shuffle at all before the
    // presentation sort; chunk index is derived arithmetically from the
    // start offset, so no window function either. At 100 TB this is a
    // map-only pass writing straight to the partitioned sink.
    "p06_chunk" -> { (s, dir) =>
      chunked(s, dir).orderBy("doc_id", "chunk_id")
    },

    // Sub-document (chunk-level) exact dedup — chunking chained into the
    // content-hash dedup: duplicated passages collapse even when the
    // documents containing them differ. Scale shape: the map-only chunk
    // explode feeds ONE sha2(chunk) shuffle; min(struct) picks the
    // keeper (lowest doc_id, then chunk_id) in the same aggregate as the
    // multiplicity count — the p01 pattern one level below documents.
    "p07_chunk_dedup" -> { (s, dir) =>
      chunked(s, dir)
        .groupBy(sha2(col("chunk"), 256).as("h"))
        .agg(min(struct(col("doc_id"), col("chunk_id"), col("chunk_tokens"))).as("kept"),
          count(lit(1)).as("dups"))
        .select(col("kept.doc_id").as("doc_id"), col("kept.chunk_id").as("chunk_id"),
          col("kept.chunk_tokens").as("chunk_tokens"), col("dups"))
        .orderBy("doc_id", "chunk_id")
    },

    // Sequence PACKING by token budget — the step after chunking/cleanup
    // that assigns documents to fixed-token-budget training shards:
    // every doc gets its global token OFFSET (cumulative tokens of all
    // lower doc_ids) and shard = offset / budget. A naive window
    // `sum() OVER (ORDER BY doc_id)` is a single-task global sort at
    // scale; this is the classic TWO-LEVEL DISTRIBUTED PREFIX SUM
    // instead: (1) per-range partial sums (one small aggregate, ranges =
    // doc_id/R), (2) a running offset over the tiny per-range frame
    // (|ranges| rows, one task), broadcast back, (3) within-range
    // cumsum where each window partition is bounded at R rows. R is
    // sized so both |ranges| and R fit a task; a third level covers any
    // corpus. All-integer arithmetic — exact on both engines.
    "p08_pack" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("tokens"))
      graft.ops.PrefixSum
        .packedShards(docs, "doc_id", "tokens", budget = 4096L, rangeWidth = 500L)
        .select("doc_id", "tokens", "off", "shard")
        .orderBy("doc_id")
    },

    // PPS SYSTEMATIC SAMPLING (probability proportional to size): lay
    // the corpus out on a weight axis via the p08 prefix sum, place
    // m=50 evenly spaced ticks (step = total DIV m), keep every doc
    // whose weight interval [off, off+w) captures a tick — inclusion
    // probability ∝ w, docs with w ≥ step included with certainty, and
    // the whole draw is a pure function of the corpus (no RNG: the
    // reproducible, audit-friendly form of weighted subsampling a
    // training-mix pipeline needs — p03/p09 are its uniform cousins).
    // Scale: the two-level PrefixSum replaces the single-task global
    // cumsum window; the 1-row total broadcasts; everything else is
    // map-only. Integer tick math (DIV) replays exactly in DuckDB.
    "p24_pps_sample" -> { (s, dir) =>
      val m = 50L
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").as("w"))
      val off = graft.ops.PrefixSum.exclusiveOffsets(docs, "doc_id", "w",
        rangeWidth = 500L)
      off.crossJoin(broadcast(docs.agg(sum("w").as("tw"))))
        // greatest(…, 1): on a degenerate corpus with total weight < m
        // the tick step would be 0 — Spark's non-ANSI x DIV 0 is NULL
        // (filter silently drops all rows) while DuckDB's // raises, so
        // an unguarded step diverges the engines instead of failing both
        .withColumn("step", expr(s"greatest(tw DIV $m, 1)"))
        .filter(expr("(off + w) DIV step > off DIV step"))
        .select(col("doc_id"), col("w"), expr("(off + w) DIV step").as("tick"))
        .orderBy("doc_id")
    },

    // MIXTURE MATERIALIZATION — p12 computes source weights, p24 draws
    // ∝ size; this op actually FILLS a training-mix budget: a global
    // char budget B = W DIV 4 is allocated across sources ∝ their total
    // weight (pure integer arithmetic), then each source contributes
    // docs in 60-bit-hash priority order until its allocation is met
    // (the boundary-crossing doc is included: allocations are met, not
    // undershot). No RNG — membership is a pure function of the corpus,
    // stable under reruns/retries/resizes (p09's hash-priority rule
    // applied budget-wise). Scale shape: the per-source cumulative sum
    // runs through the GROUPED two-level PrefixSum
    // (ops.PrefixSum.groupedOffsets) — per-(source, range) partials
    // combine map-side and in-range windows are bounded by rangeWidth,
    // so no single task ever folds a whole source (the plain
    // window-per-source plan serializes on the biggest source at
    // 100 TB); totals and allocations are sources-sized broadcasts.
    "p25_mix_fill" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars").cast(LongType).as("w"),
          h60(col("doc_id").cast(StringType)).as("pri"))
      val tot = docs.groupBy("source").agg(sum("w").as("ws"))
      val alloc = tot.crossJoin(broadcast(tot.agg(sum(col("ws")).as("wt"))))
        .select(col("source"), expr("(wt DIV 4) * ws DIV wt").as("budget"))
      val cum = graft.ops.PrefixSum.groupedOffsets(
        docs, "source", "pri", "doc_id", "w", rangeWidth = 1L << 52)
      cum.join(broadcast(alloc), "source")
        .filter(col("off") < col("budget"))
        .select(col("doc_id"), col("source"), col("w"), col("off"), col("budget"))
        .orderBy("doc_id")
    },

    // SEQUENCE PACKING — the canonical pretraining batch op: concat
    // the corpus (doc_id order, one EOS token between docs) into a
    // single token stream, cut it into fixed L=256-token training
    // sequences, and emit each (sequence, doc) overlap span — the
    // attention-mask metadata a trainer needs when sequences cross
    // document boundaries. p08 assigns WHOLE docs to budget shards;
    // this op splits ACROSS docs: every content-token position lands
    // in exactly one sequence, bigger docs span several. Scale shape:
    // stream offsets come from the two-level PrefixSum (no
    // single-task global window); each doc then explodes to only the
    // ⌈toks/L⌉+1 sequences it overlaps — output is corpus-sized, the
    // exploded frame never more than (1 + toks/L) rows per doc. All
    // integer arithmetic; no RNG, no floats.
    "p26_seq_pack" -> { (s, dir) =>
      val L = 256L
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          (size(tokens(col("text"))) + lit(1)).cast(LongType).as("w"))
      val off = graft.ops.PrefixSum.exclusiveOffsets(docs, "doc_id", "w",
        rangeWidth = 500L)
      off.select(col("doc_id"), col("off"), (col("w") - 1L).as("toks"))
        // tokens() yields >= 1 token per doc, but guard anyway: a
        // zero-token doc at an L-aligned offset would make sequence()
        // run DESCENDING (stop < start) and emit spurious rows where
        // the oracle's range() is empty.
        .filter(col("toks") >= 1L)
        .select(col("doc_id"), col("off"), col("toks"),
          explode(expr(s"sequence(off DIV $L, (off + toks - 1) DIV $L)")).as("seq_id"))
        .select(col("seq_id"), col("doc_id"),
          greatest(col("off"), col("seq_id") * L).as("s"),
          least(col("off") + col("toks"), (col("seq_id") + 1L) * L).as("e"))
        .select(col("seq_id"), col("doc_id"),
          (col("s") - col("seq_id") * L).as("seq_off"),
          (col("e") - col("s")).as("len"))
        .orderBy("seq_id", "doc_id")
    },

    // TRAIN/EVAL N-GRAM OVERLAP — the published contamination METRIC
    // (the GPT-3/PaLM-appendix number): the fraction of each held-out
    // split's DISTINCT 8-gram windows that occurs anywhere in train.
    // p02/p14 quarantine per-doc, d23 finds boundary-crossing pairs —
    // this is the corpus-level rate published beside eval results.
    // Scale shape: windows fuse into the scan (graft_token_windows,
    // one pass over p13's hash split), fold to 60-bit hashes so the
    // overlap join moves 8-byte keys not strings, train grams dedupe
    // in one gram-keyed shuffle, the eval probe is an equi join on
    // the hash. At 100 TB p14's bloom replaces the exact train side
    // by documented swap; this row IS the exact ground truth that
    // bloom's false-positive rate is measured against.
    "p27_split_overlap" -> { (s, dir) =>
      val K = 8
      val bucket = pmod(h60(col("doc_id").cast(StringType)), lit(100L))
      val split = when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test")
      val grams = Tables(s, dir, "documents")
        .select(split.as("split"),
          explode(call_function("graft_token_windows",
            tokens(col("text")), lit(K))).as("g"))
        .select(col("split"), h60(col("g")).as("h"))
        // two consumers (train dedupe, eval probe) — one window pass
        .localCheckpoint()
      val train = grams.filter(col("split") === "train").select("h").distinct()
      grams.filter(col("split") =!= "train").distinct()
        .join(train.withColumn("hit", lit(1L)), Seq("h"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("overlapping"))
        .select(col("split"), col("n_grams"), col("overlapping"),
          round6(col("overlapping").cast(DoubleType) /
            col("n_grams").cast(DoubleType)).as("overlap_rate"))
        .orderBy("split")
    },

    // PACKING vs PADDING efficiency — the batch-construction trade-off
    // report behind p26: doc-ALIGNED batching pads every document to a
    // multiple of L=256 (simple attention masks, wasted slots), while
    // p26's contiguous packing wastes nothing but crosses document
    // boundaries. This row quantifies the choice on this corpus: total
    // padded sequences and padding rate for the aligned strategy vs
    // the packed sequence count (Σ(toks+1 EOS) / L), i.e. exactly how
    // much compute the cross-boundary masks buy back. All-integer
    // ceil-div arithmetic on one corpus scan → one 1-row aggregate;
    // ratios fold by long division (round6 display only).
    "p28_pack_efficiency" -> { (s, dir) =>
      val L = 256L
      Tables(s, dir, "documents")
        .select(size(tokens(col("text"))).cast(LongType).as("toks"))
        .agg(count(lit(1)).as("docs"),
          sum(col("toks")).as("tokens"),
          sum(expr(s"(toks + ${L - 1}) div $L")).as("pad_seqs"),
          sum(expr(s"(toks + ${L - 1}) div $L * $L - toks")).as("pad_tokens"))
        .select(col("docs"), col("tokens"), col("pad_seqs"), col("pad_tokens"),
          expr(s"(tokens + docs + ${L - 1}) div $L").as("pack_seqs"),
          expr(s"(pad_tokens * 1000000L) div (pad_seqs * $L)").as("pad_rate_micro"))
        .withColumn("pad_rate",
          round6(col("pad_rate_micro").cast(DoubleType) / lit(1000000.0)))
        .withColumn("saved_seqs", col("pad_seqs") - col("pack_seqs"))
    },

    // Deterministic k-PER-STRATUM sampling ("hash reservoir"): each
    // source keeps its k=10 docs with the smallest 52-bit hash priority —
    // a uniform, reproducible sample whose membership is stable under
    // reruns, retries, and cluster resizes (p03/p04 are the rate-based
    // forms; this one guarantees exact-k). Executes through the custom
    // TopKPerGroup PLAN OPERATOR (bounded per-partition heaps, only
    // k x partitions rows per stratum reach the exchange — no window
    // sort), with priority = -(h60 >> 8): 52 bits so the double-typed
    // ordering column stays exact-integer, negated because the engine
    // ranks descending.
    "p09_sample_topk" -> { (s, dir) =>
      val pri = -shiftright(h60(col("doc_id").cast(StringType)), 8).cast(DoubleType)
      val df = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), pri.as("pri"))
      graft.plans.TopKPlan.topKPerGroup(df, Seq("source"), "pri", "doc_id", 10)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },

    // The WHOLE training-data pipeline as one oracle row — every stage
    // is an operator already pinned on its own (t10 normalize, quality
    // gate, p06 chunking, p07 chunk dedup, p08 packing), composed the
    // way a real corpus job materializes its manifest: normalize ->
    // keep docs >= 40 clean tokens -> 64/48 chunk windows over the
    // NORMALIZED text -> content-hash chunk dedup (min keeper) ->
    // two-level prefix-sum packing of survivors into 4096-token shards.
    // Pinning the COMPOSITION catches stage-boundary bugs (schema
    // drift, ordering assumptions) the per-stage oracles can't.
    "p10_pipeline" -> { (s, dir) =>
      val W = 64
      val S = 48
      val norm = regexp_replace(
        trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ")), " +", " ")
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), split(norm, " ").as("t"))
        .filter(size(col("t")) >= 40)
      val chunks = docs
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), size(col("t")), lit(S))).as("start"))
        .select(col("doc_id"),
          ((col("start") - 1) / S).cast(LongType).as("chunk_id"),
          least(lit(W), size(col("t")) - col("start") + 1).cast(LongType).as("chunk_tokens"),
          concat_ws(" ", slice(col("t"), col("start"), lit(W))).as("chunk"))
      val kept = chunks
        .groupBy(sha2(col("chunk"), 256).as("h"))
        .agg(min(struct(col("doc_id"), col("chunk_id"), col("chunk_tokens"))).as("kept"))
        .select(col("kept.doc_id").as("doc_id"), col("kept.chunk_id").as("chunk_id"),
          col("kept.chunk_tokens").as("chunk_tokens"))
        .withColumn("key", col("doc_id") * 1024 + col("chunk_id"))
        // materialize before packing: the prefix sum reads its input
        // twice (range totals + the main pass) and would otherwise
        // re-run the whole normalize/chunk/dedup chain for the tiny
        // offsets side (PLANS.md caught the second scan)
        .localCheckpoint()
      graft.ops.PrefixSum
        .packedShards(kept, "key", "chunk_tokens", budget = 4096L, rangeWidth = 16384L)
        .select("doc_id", "chunk_id", "chunk_tokens", "off", "shard")
        .orderBy("doc_id", "chunk_id")
    },

    // Deterministic stratified sampling: stratum = words-bucket, each
    // stratum kept at its own rate via an md5-derived bucket of doc_id —
    // reproducible across runs/retries/cluster sizes (rand() is not),
    // mirrorable in any engine with md5. One scan, no shuffle except the
    // presentation sort.
    "p03_stratified_sample" -> { (s, dir) =>
      val words = size(tokens(col("text")))
      val stratum = least(floor(words / 100).cast(LongType), lit(3L))
      val bucket = pmod(
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 15), 16, 10)
          .cast(LongType), lit(100L))
      val rate = element_at(lit(Array(10L, 25L, 50L, 100L)), (stratum + 1).cast(IntegerType))
      Tables(s, dir, "documents")
        .select(col("doc_id"), stratum.as("stratum"), bucket.as("bucket"), rate.as("rate"))
        .filter(col("bucket") < col("rate"))
        .orderBy("doc_id")
    },

    // CCNet-style corpus split: EXACT quality tertiles (head / middle /
    // tail) over the whole corpus, composing the pinned t02 scorer.
    // Exact global rank without the single-task
    // `row_number() OVER (ORDER BY ...)` window: (quality DESC, doc_id)
    // packs into one monotone long key — quality is round6'd so
    // quality*1e6 is an exact integer in [0, 1e6] — and PrefixSum's
    // two-level range decomposition (p08's packing operator, weight=1)
    // computes each row's exclusive rank with bounded tasks + one
    // broadcast of per-range offsets. rangeWidth 2^28 sub-divides each
    // quality value into 8 doc_id ranges so a quality-heavy mode can't
    // concentrate a window partition. Tertile cutoffs are exact-integer
    // ceil(n/3) / ceil(2n/3); n is a bounded driver-side count of the
    // materialized 2-column score frame (read 3x: count + PrefixSum's
    // offsets and main passes).
    "p11_quality_tertiles" -> { (s, dir) =>
      val scored = TextQueries.queries("t02_quality")(s, dir)
        .select(col("doc_id"), col("quality"))
        .localCheckpoint()
      val n = scored.count()
      val t1 = (n + 2) / 3
      val t2 = (2 * n + 2) / 3
      val key = (lit(1000001L) - round(col("quality") * 1e6).cast(LongType)) *
        lit(1L << 31) + col("doc_id")
      graft.ops.PrefixSum.exclusiveOffsets(
          scored.withColumn("__k", key).withColumn("__w", lit(1L)),
          "__k", "__w", rangeWidth = 1L << 28)
        .select(col("doc_id"), col("quality"),
          when(col("off") < t1, "head")
            .when(col("off") < t2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    },

    // Temperature-reweighted source mix (the multilingual/domain
    // sampling rule: q_s ∝ p_s^α, here α=0.5 — deliberately, because
    // x^0.5 is IEEE sqrt, CORRECTLY ROUNDED and so engine-identical,
    // where a general pow is not): per source, its corpus frequency,
    // its temperature weight, and the boost the reweighting gives it
    // (>1 for tail sources, <1 for head — the low-resource upsampling
    // story). Scale shape: ONE source-keyed count shuffle; the
    // cross-source totals are decimal sums (order-independent, s03's
    // centroid trick) over the |sources|-row frame via unpartitioned
    // windows (p04's trick) — applying the weights per-doc would be
    // p04's broadcast join-back. round6 only at output.
    "p12_temperature_mix" -> { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window.partitionBy()
      val counts = Tables(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w", sqrt(col("n_docs").cast(DoubleType)).cast(DecimalType(28, 9)))
      val freq = col("n_docs").cast(DoubleType) /
        sum(col("n_docs")).over(W).cast(DoubleType)
      val tw = col("w").cast(DoubleType) / sum(col("w")).over(W).cast(DoubleType)
      counts
        .select(col("source"), col("n_docs"),
          round6(freq).as("freq"),
          round6(tw).as("temp_weight"),
          round6(tw / freq).as("boost"))
        .orderBy("source")
    },

    // Deterministic TRAIN/VAL/TEST split — the manifest step every
    // training corpus needs: assignment is a pure function of doc_id
    // (md5 bucket 90/5/5), so it is stable under reruns, retries,
    // cluster resizes, and incremental corpus growth (a doc never
    // migrates between splits when new data arrives — the property
    // rand()-based splitting loses). Output = the per-split manifest
    // summary (docs, tokens, fraction). Scale shape: one scan with the
    // bucket fused in, one 3-group aggregate; the cross-split total
    // rides an unpartitioned window over the 3-row frame (p12's trick).
    "p13_split" -> { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window.partitionBy()
      val bucket = pmod(h60(col("doc_id").cast(StringType)), lit(100L))
      val split = when(bucket < 90, "train").when(bucket < 95, "val")
        .otherwise("test")
      Tables(s, dir, "documents")
        .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("toks"),
          split.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .select(col("split"), col("n_docs"), col("n_tokens"),
          round6(col("n_docs").cast(DoubleType) /
            sum(col("n_docs")).over(W).cast(DoubleType)).as("frac"))
        .orderBy("split")
    },

    // Temperature mix APPLIED to a token budget — the step after p12's
    // weights that a real mix config needs: given budget B tokens, each
    // source's target token share is tw·B and epochs = target/actual is
    // the repeat factor the sampler runs that source at (>1 = the
    // low-resource source is seen more than once per pass — the
    // LLaMA-style "epochs" column). Same determinism stance as p12:
    // decimal cross-source sums, one fixed IEEE op order, round6 only
    // at output. Scale shape: ONE source-keyed shuffle carrying two
    // accumulators (count + token sum); everything after is
    // |sources|-row arithmetic.
    "p15_mix_epochs" -> { (s, dir) =>
      val B = 1000000.0
      val W = org.apache.spark.sql.expressions.Window.partitionBy()
      val counts = Tables(s, dir, "documents")
        .select(col("source"), size(tokens(col("text"))).cast(LongType).as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .withColumn("w", sqrt(col("n_docs").cast(DoubleType)).cast(DecimalType(28, 9)))
      val tw = col("w").cast(DoubleType) / sum(col("w")).over(W).cast(DoubleType)
      counts
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round6(tw).as("temp_weight"),
          round6(tw * B).as("target_tokens"),
          round6(tw * B / col("n_tokens").cast(DoubleType)).as("epochs"))
        .orderBy("source")
    },

    // BLOOM-FILTER decontamination — p02's benchmark-overlap check
    // re-run through the native `graft_bloom` aggregate: the benchmark
    // 3-gram set folds into a FIXED 8 KB bitset (m=2^16 bits, k=3
    // md5-double-hashed positions) instead of a broadcast of the gram
    // strings themselves, which is the shape that survives when the
    // benchmark suite grows to millions of grams — the filter size
    // never moves, merges are bitwise OR, and the probe is a codegen'd
    // bit test per candidate gram. Bloom answers are one-sided: no
    // contaminated gram is ever missed, but collisions overcount, so
    // the row carries the exact count beside the bloom count and
    // freezes the measured false-positive inflation per document.
    // Scale shape: one gram scan builds the bitset (tiny partial/final
    // agg), one gram scan probes it (1-row broadcast cross join), the
    // exact side reuses p02's broadcast — no corpus-sized shuffle
    // anywhere.
    "p14_bloom_decontam" -> { (s, dir) =>
      val M = 1L << 16
      val K = 3
      // widened (r13): the gram explode + double md5 ran single-task on
      // the test file's single split (profiled 3.0 s); see p02
      val grams = Tables.widenIfNarrow(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          explode(array_distinct(grams3(tokens(col("text"))))).as("g"))
        .withColumn("h1", h60(col("g")))
        .withColumn("h2", h60(concat(lit("#"), col("g"))))
      val bench = grams.filter(col("doc_id") % 20 === 0)
        .select("g", "h1", "h2").distinct()
      val bloom = bench.agg(expr(s"graft_bloom(h1, h2, $M, $K)").as("bits"))
      val exact = bench.select("g").withColumn("exact_hit", lit(1L))
      grams.filter(col("doc_id") % 20 =!= 0)
        .crossJoin(broadcast(bloom))
        .join(broadcast(exact), Seq("g"), "left")
        .select(col("doc_id"),
          expr(s"graft_bloom_contains(bits, h1, h2, $M, $K)")
            .cast(LongType).as("bloom_hit"),
          coalesce(col("exact_hit"), lit(0L)).as("exact_hit"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(col("bloom_hit")).as("n_bloom"),
          sum(col("exact_hit")).as("n_exact"))
        .select(col("doc_id"), col("n_grams"), col("n_bloom"), col("n_exact"),
          (col("n_bloom") - col("n_exact")).as("false_pos"),
          round6(col("n_bloom").cast(DoubleType) / col("n_grams"))
            .as("bloom_contamination"))
        .orderBy("doc_id")
    },

    // Deterministic EPOCH SHUFFLE — the global training-order
    // permutation + sharding step that turns a curated corpus into the
    // files a data loader streams: rank-hash rh = h60("e1:" + doc_id)
    // is a pure function of (epoch seed, doc id), so the permutation is
    // reproducible under reruns/retries/cluster resizes (rand() loses
    // all three) and changing the seed prefix re-deals a fresh
    // independent order per epoch. shard = rh mod N picks the output
    // file; seq = rank of rh within the shard is the within-file read
    // order. Scale shape: ONE hash shuffle on shard + a within-shard
    // sort — exactly what `repartition(shard).sortWithinPartitions(rh)`
    // does on the write path, no global sort anywhere; N here is 8 for
    // the oracle, in production it tracks the target file count
    // (thousands), so per-shard sorts stay bounded and parallel.
    "p16_epoch_shuffle" -> { (s, dir) =>
      val NShards = 8L
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("rh", "doc_id")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          h60(concat(lit("e1:"), col("doc_id").cast(StringType))).as("rh"))
        .withColumn("shard", pmod(col("rh"), lit(NShards)))
        .select(col("shard"), row_number().over(W).cast(LongType).as("seq"),
          col("doc_id"))
        .orderBy("shard", "seq")
    },

    // Sequence-LENGTH BUCKETING — the batch-shape step after packing's
    // alternative: group docs into fixed 64-token-wide length buckets
    // (cap = toks rounded up to the next multiple of 64) and freeze
    // each bucket's padding bill if every doc pads to its bucket cap.
    // pad_waste is the fraction of batch tokens that would be padding —
    // the number a batching strategy is judged by (vs ~50%+ when
    // padding everything to the global max; p08_pack is the 0-waste
    // end of the spectrum). Integer-only bucket arithmetic (DIV), so
    // the boundaries replay exactly cross-engine. Scale shape: one
    // scan with the bucket fused in, one tiny aggregate over
    // |buckets| groups.
    "p17_length_buckets" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(size(tokens(col("text"))).cast(LongType).as("toks"))
        .withColumn("cap", greatest(lit(64L), expr("((toks + 63) DIV 64) * 64")))
        .groupBy("cap")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .select(col("cap"), col("n_docs"), col("n_tokens"),
          (col("cap") * col("n_docs")).as("padded_tokens"),
          round6(lit(1.0) - col("n_tokens").cast(DoubleType) /
            (col("cap") * col("n_docs")).cast(DoubleType)).as("pad_waste"))
        .orderBy("cap")
    },

    // CORPUS DATASHEET — the one-row summary card every shipped dataset
    // carries (datasheets-for-datasets shape): volume (docs, tokens,
    // chars), provenance cardinalities (sources, languages), and the
    // exact-duplication rate. ONE scan, one aggregation (the three
    // distinct counts ride the same Expand), all integer-exact except
    // the two round6 ratios. At 100 TB this replaces "run five ad-hoc
    // queries and paste numbers into a wiki".
    "p18_datasheet" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(sha2(col("text"), 256)).as("n_unique"),
          sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"),
          sum(col("n_chars")).as("n_chars_total"))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          (col("n_docs") - col("n_unique")).as("exact_dup_docs"),
          round6((col("n_docs") - col("n_unique")).cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("dup_rate"),
          col("n_tokens"),
          round6(col("n_tokens").cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("mean_tokens"),
          col("n_chars_total"))
    },

    // CONTENT-DEFINED chunking (the FastCDC/rsync family): boundaries
    // come from a rolling window hash of the text itself
    // (expressions.CdcCutsExpr, native O(n) codegen'd loop), not from
    // fixed strides — so an edit shifts only the cuts within ~W bytes of
    // it and near-identical documents share almost all their chunks,
    // which is what makes chunk-level dedup (p07) robust to insertions.
    // p06 is the fixed-stride twin; CdcCutsExprSpec pins the
    // resynchronization property. Map-only: cuts, boundary zipping, and
    // substring extraction are all per-row expressions fused into the
    // scan; the only exchange is the presentation sort. The oracle
    // replays the per-window polynomial sum with the same (B, P, D, W).
    "p19_cdc_chunk" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents") // registers graft_cdc_cuts
      docs
        .select(col("doc_id"), cdcChunks(col("text")).as("chunks"))
        .select(col("doc_id"), posexplode(col("chunks")))
        .select(col("doc_id"), col("pos").cast(LongType).as("k"),
          col("col").as("chunk"),
          length(col("col")).cast(LongType).as("chunk_chars"))
        .orderBy("doc_id", "k")
    },

    // p19 closed into chunk-level dedup (the p07 shape over CDC chunks):
    // one content-hash shuffle over the map-only chunk stream, keeper =
    // min (doc_id, k) struct per chunk content — because boundaries are
    // content-defined, the same passage re-used across documents lands
    // in IDENTICAL chunks and collapses here even when its surrounding
    // offsets differ (fixed strides only dedup aligned repeats — p07's
    // limitation this row removes). StreamingSpec pins the live twin
    // (dedupCdcChunksStream).
    "p20_cdc_dedup" -> { (s, dir) =>
      val chunks = queries("p19_cdc_chunk")(s, dir)
      chunks
        .groupBy(sha2(col("chunk"), 256).as("h"))
        .agg(min(struct(col("doc_id"), col("k"))).as("keep"),
          count(lit(1)).as("n_copies"))
        .select(col("keep.doc_id").as("doc_id"), col("keep.k").as("k"),
          col("n_copies"))
        .orderBy("doc_id", "k")
    },

    // Quality-filter ATTRIBUTION funnel — the report every filtering
    // pipeline (C4, Gopher, RefinedWeb) publishes beside its rules:
    // each document is attributed to the FIRST rule that rejects it
    // (ordered cheap → expensive, the short-circuit evaluation order),
    // and the output is the per-stage rejection count + surviving
    // corpus size. Where p01 applies ONE composite score, this answers
    // "which rule is doing the work" — the tuning signal (a rule
    // rejecting 0 docs, like long_words here, is measured as inert
    // rather than assumed useful). All rules are integer predicates on
    // counts from ONE scan (no floats to disagree across engines);
    // zero-count stages survive via the static stage dim; the 5-row
    // funnel cumulates with one tiny window. Scale: map-only rule
    // evaluation + one 5-group aggregate — the corpus never shuffles.
    "p21_filter_funnel" -> { (s, dir) =>
      val t = tokens(col("text"))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(t).cast(LongType).as("words"),
          size(array_distinct(t)).cast(LongType).as("dw"),
          length(regexp_replace(col("text"), " ", "")).cast(LongType).as("chars"),
          stopwordHits(t, StopEn).cast(LongType).as("stop"))
        .select(
          when(col("words") < 20, 1L)                       // too_short
            .when(col("chars") > col("words") * 8, 2L)      // long_words (awl > 8)
            .when(col("dw") * 10 < col("words") * 3, 3L)    // repetitive
            .when(col("stop") * 25 < col("words"), 4L)      // low_stopword
            .otherwise(5L).as("stage"))
      val counts = scored.groupBy("stage").agg(count(lit(1)).as("n"))
      val total = scored.agg(count(lit(1)).as("total"))
      val stages = Seq(1L -> "too_short", 2L -> "long_words", 3L -> "repetitive",
        4L -> "low_stopword", 5L -> "pass")
      val dim = stages.map { case (id, nm) =>
        struct(lit(id).as("stage"), lit(nm).as("rule"))
      }
      val dimDf = s.range(1)
        .select(explode(array(dim: _*)).as("x"))
        .select(col("x.stage").as("stage"), col("x.rule").as("rule"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("stage")
      dimDf.join(counts, Seq("stage"), "left")
        .na.fill(0L, Seq("n"))
        .crossJoin(broadcast(total))
        .withColumn("rejected", when(col("stage") === 5L, 0L).otherwise(col("n")))
        .withColumn("survivors",
          col("total") - sum(col("rejected")).over(w))
        .select(col("stage"), col("rule"), col("rejected"), col("survivors"))
        .orderBy("stage")
    },

    // LIVE streaming CDC chunk dedup — Streaming.dedupCdcChunksStream
    // (previously spec-only; the d14 promotion pattern) run as a REAL
    // file-stream query over the documents table: stateless
    // content-defined chunking in append mode, then watermarked
    // dropDuplicatesWithinWatermark on the chunk hash (state = distinct
    // hashes inside the horizon). Event time is synthesized from
    // doc_id (day 1+ — the epoch-0 late-row trap). The output projects
    // (chunk_key, chunk_chars), both FUNCTIONS OF THE KEY, so the
    // result is deterministic even though which carrier document
    // survives a within-batch race is not. Oracle = the distinct-chunk
    // closed form of the same CDC cut definition (one shared
    // CdcChunkSql with p19/p20).
    "p22_stream_cdc_dedup" -> { (s, dir) =>
      val src = Tables.stream(s, dir, "documents")
      val docs = src.withColumn("ts",
        timestamp_micros(col("doc_id") * 1000000L + lit(86400000000L)))
      val deduped = graft.streaming.Streaming.dedupCdcChunksStream(docs)
        .select(col("chunk_key"),
          length(col("chunk")).cast(LongType).as("chunk_chars"))
      drainToMemory(deduped, "append").orderBy("chunk_key")
    },

    // LIVE streaming decontamination — Streaming.decontaminateStream
    // (previously spec-only) as a real file-stream query: the Bloom
    // bitset of the benchmark set (every 20th doc, p14's convention)
    // is built batch-side by the graft_bloom native aggregate, pulled
    // to the driver as the 8 KB literal the streaming plan embeds, and
    // every arriving candidate doc is flagged with its bloom-hit
    // count as pure append-mode expressions — no stream-static join,
    // no state. At scale this is the shape that matters: the
    // eval-suite index ships to every executor once inside the plan;
    // a benchmark refresh is a new literal on query restart. The
    // oracle replays the identical double-hash bit math in SQL (the
    // p14 layers, bloom columns only).
    "p23_stream_decontam" -> { (s, dir) =>
      val M = 1L << 16
      val K = 3
      // benchmark slice filtered BEFORE the widen (r13): the pushed
      // doc_id predicate keeps the one-time shuffle at 1/20th of the
      // corpus; the gram explode + double md5 then runs parallel
      val grams = Tables.widenIfNarrow(s,
          Tables(s, dir, "documents").filter(col("doc_id") % 20 === 0))
        .select(col("doc_id"),
          explode(array_distinct(grams3(tokens(col("text"))))).as("g"))
        .withColumn("h1", h60(col("g")))
        .withColumn("h2", h60(concat(lit("#"), col("g"))))
      val bits = grams
        .select("g", "h1", "h2").distinct()
        .agg(expr(s"graft_bloom(h1, h2, $M, $K)").as("bits"))
        .collect()(0).getAs[Array[Byte]]("bits")
      val src = Tables.stream(s, dir, "documents")
      val flagged = graft.streaming.Streaming
        .decontaminateStream(src.filter(col("doc_id") % 20 =!= 0), bits, M, K)
        .select(col("doc_id"), col("n_grams"), col("n_bloom"))
      drainToMemory(flagged, "append").orderBy("doc_id")
    }
  )

  /** 64-token windows at stride 48 over `documents` (map-only; shared by
    * p06/p07 and mirrored by [[ChunkSql]]).
    */
  private def chunked(s: SparkSession, dir: String): DataFrame = {
    val W = 64
    val S = 48
    val t = tokens(col("text"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), t.as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")), lit(S))).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / S).cast(LongType).as("chunk_id"),
        col("start").cast(LongType).as("start"),
        least(lit(W), size(col("t")) - col("start") + 1).cast(LongType).as("chunk_tokens"),
        concat_ws(" ", slice(col("t"), col("start"), lit(W))).as("chunk"))
  }

  /** DuckDB mirror of [[chunked]] (a WITH-clause body). */
  private val ChunkSql: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |st AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) + 1, 48)) AS start
      |  FROM toks),
      |chunks AS (
      |  SELECT doc_id,
      |    CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
      |    CAST(start AS BIGINT) AS start,
      |    CAST(least(64, len(t) - start + 1) AS BIGINT) AS chunk_tokens,
      |    array_to_string(t[start : start + 63], ' ') AS chunk
      |  FROM st)""".stripMargin

  /** Email-shaped matches plus blocklist words (word-boundary exact).
    * ASCII-only constructs so the Java-regex (Spark) and RE2 (DuckDB)
    * engines match identically.
    */
  private[queries] val PiiPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}|\\b(customer|supplier|key)\\b"

  private def sqlHits(ws: Seq[String]): String =
    s"len(list_filter(t, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))"

  val oracleSql: Map[String, String] = Map(
    "p01_clean_corpus" ->
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |    CAST(len(t) AS BIGINT) AS words,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t) AS awl,
         |    CAST(${sqlHits(StopEn)} AS DOUBLE) / len(t) AS sr
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
         |q AS (
         |  SELECT doc_id, text, words,
         |    floor((0.5 * least(words / 100.0, 1.0) + 0.3 * least(awl / 8.0, 1.0) + 0.2 * sr) * 1000000.0 + 0.5) / 1000000.0 AS quality
         |  FROM f)
         |SELECT min(doc_id) AS doc_id, min(words) AS words,
         |  min(quality) AS quality, count(*) AS dups
         |FROM q WHERE quality >= 0.5
         |GROUP BY sha256(text) ORDER BY doc_id""".stripMargin,
    "p02_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM toks),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  floor((CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS contamination
        |FROM (SELECT * FROM grams WHERE doc_id % 20 <> 0) c
        |LEFT JOIN bench b USING (g)
        |GROUP BY doc_id
        |HAVING floor((CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 >= 0.5
        |ORDER BY doc_id""".stripMargin,
    // same double-precision floor as Spark: all intermediates are small
    // integers (< 2^53), so IEEE division + floor agree bit-for-bit
    "p04_source_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |    (CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT) % 3) + 1 AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS sumw FROM c),
        |r AS (
        |  SELECT source,
        |    least(100, CAST(floor((100.0 * 200 * w) / (sumw * n)) AS BIGINT)) AS pct
        |  FROM c, t),
        |d AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT d.doc_id, d.source, d.bucket, r.pct
        |FROM d JOIN r ON d.source = r.source
        |WHERE d.bucket < r.pct ORDER BY d.doc_id""".stripMargin,
    "p05_redact" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$PiiPattern')) AS BIGINT) AS n_pii,
         |  regexp_replace(text, '$PiiPattern', '[PII]', 'g') AS clean,
         |  CAST(length(regexp_replace(text, '$PiiPattern', '[PII]', 'g')) AS BIGINT) AS clean_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "p06_chunk" ->
      s"""WITH $ChunkSql
         |SELECT doc_id, chunk_id, start, chunk_tokens, chunk
         |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
    "p07_chunk_dedup" ->
      s"""WITH $ChunkSql,
         |kept AS (
         |  SELECT min({'doc_id': doc_id, 'chunk_id': chunk_id,
         |              'chunk_tokens': chunk_tokens}) AS kept,
         |         count(*) AS dups
         |  FROM chunks GROUP BY sha256(chunk))
         |SELECT kept.doc_id AS doc_id, kept.chunk_id AS chunk_id,
         |  kept.chunk_tokens AS chunk_tokens, CAST(dups AS BIGINT) AS dups
         |FROM kept ORDER BY doc_id, chunk_id""".stripMargin,
    "p08_pack" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, tokens,
        |    CAST(coalesce(sum(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM d)
        |SELECT doc_id, tokens, off, CAST(off // 4096 AS BIGINT) AS shard
        |FROM o ORDER BY doc_id""".stripMargin,
    "p24_pps_sample" ->
      """WITH d AS (SELECT doc_id, n_chars AS w FROM documents),
        |t AS (SELECT greatest(CAST(sum(w) AS BIGINT) // 50, 1) AS step FROM d),
        |o AS (
        |  SELECT doc_id, w,
        |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM d)
        |SELECT doc_id, w, CAST((off + w) // step AS BIGINT) AS tick
        |FROM o, t
        |WHERE (off + w) // step > off // step
        |ORDER BY doc_id""".stripMargin,
    // per-source exclusive cumsum in (hash-priority, doc_id) order;
    // integer budget allocation ∝ source weight
    "p25_mix_fill" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS pri
        |  FROM documents),
        |t AS (SELECT source, CAST(sum(w) AS BIGINT) AS ws FROM d GROUP BY source),
        |g AS (SELECT CAST(sum(ws) AS BIGINT) AS wt FROM t),
        |a AS (SELECT source, CAST((wt // 4) * ws // wt AS BIGINT) AS budget
        |      FROM t CROSS JOIN g),
        |c AS (
        |  SELECT doc_id, source, w,
        |    CAST(coalesce(sum(w) OVER (PARTITION BY source ORDER BY pri, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM d)
        |SELECT c.doc_id, c.source, c.w, c.off, a.budget
        |FROM c JOIN a USING (source)
        |WHERE c.off < a.budget
        |ORDER BY doc_id""".stripMargin,
    // stream offsets by exclusive cumsum over (toks + 1 EOS); each doc
    // unnests to the sequences its content tokens overlap
    "p26_seq_pack" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, toks,
        |    CAST(coalesce(sum(toks + 1) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM d),
        |x AS (
        |  SELECT doc_id, toks, off,
        |    unnest(range(off // 256, (off + toks - 1) // 256 + 1)) AS seq_id
        |  FROM o)
        |SELECT seq_id, doc_id,
        |  greatest(off, seq_id * 256) - seq_id * 256 AS seq_off,
        |  least(off + toks, (seq_id + 1) * 256) - greatest(off, seq_id * 256) AS len
        |FROM x ORDER BY seq_id, doc_id""".stripMargin,
    // same ceil-div arithmetic over the same token counts; the 1-row
    // report's ratios fold by the same long division
    "p28_pack_efficiency" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |a AS (
        |  SELECT count(*) AS docs, CAST(sum(toks) AS BIGINT) AS tokens,
        |    CAST(sum((toks + 255) // 256) AS BIGINT) AS pad_seqs,
        |    CAST(sum((toks + 255) // 256 * 256 - toks) AS BIGINT) AS pad_tokens
        |  FROM d)
        |SELECT docs, tokens, pad_seqs, pad_tokens,
        |  CAST((tokens + docs + 255) // 256 AS BIGINT) AS pack_seqs,
        |  CAST((pad_tokens * 1000000) // (pad_seqs * 256) AS BIGINT) AS pad_rate_micro,
        |  floor((CAST((pad_tokens * 1000000) // (pad_seqs * 256) AS DOUBLE)
        |    / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS pad_rate,
        |  CAST(pad_seqs - (tokens + docs + 255) // 256 AS BIGINT) AS saved_seqs
        |FROM a""".stripMargin,
    // p13's split rule + d22's window mirror + the p09 md5-prefix
    // hash; distinct eval grams probed against distinct train grams
    "p27_split_overlap" ->
      """WITH sp AS (
        |  SELECT doc_id, text,
        |    CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |toks AS (SELECT split, string_split(text, ' ') AS t FROM sp),
        |w AS (
        |  SELECT split, list_transform(range(1, greatest(len(t) - 7, 0) + 1),
        |    i -> array_to_string(t[i:i+7], ' ')) AS gs
        |  FROM toks),
        |g AS (SELECT split, unnest(gs) AS gram FROM w WHERE len(gs) > 0),
        |h AS (SELECT split,
        |        CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS h
        |      FROM g),
        |tr AS (SELECT DISTINCT h FROM h WHERE split = 'train'),
        |ev AS (SELECT DISTINCT split, h FROM h WHERE split <> 'train')
        |SELECT ev.split, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlapping,
        |  floor((CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS overlap_rate
        |FROM ev LEFT JOIN tr ON ev.h = tr.h
        |GROUP BY ev.split ORDER BY ev.split""".stripMargin,
    "p09_sample_topk" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) >> 8) AS pri
        |  FROM documents)
        |SELECT source, rn, doc_id FROM (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS INT) AS rn
        |  FROM h)
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin,
    "p10_pipeline" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |      ' +', ' ', 'g') AS norm
        |  FROM documents),
        |toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM n),
        |f AS (SELECT doc_id, t FROM toks WHERE len(t) >= 40),
        |st AS (SELECT doc_id, t, unnest(range(1, len(t) + 1, 48)) AS start FROM f),
        |chunks AS (
        |  SELECT doc_id,
        |    CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
        |    CAST(least(64, len(t) - start + 1) AS BIGINT) AS chunk_tokens,
        |    array_to_string(t[start : start + 63], ' ') AS chunk
        |  FROM st),
        |kept AS (
        |  SELECT min({'doc_id': doc_id, 'chunk_id': chunk_id,
        |              'chunk_tokens': chunk_tokens}) AS k
        |  FROM chunks GROUP BY sha256(chunk)),
        |keyed AS (
        |  SELECT k.doc_id AS doc_id, k.chunk_id AS chunk_id,
        |    k.chunk_tokens AS chunk_tokens,
        |    k.doc_id * 1024 + k.chunk_id AS key
        |  FROM kept),
        |o AS (
        |  SELECT doc_id, chunk_id, chunk_tokens,
        |    CAST(coalesce(sum(chunk_tokens) OVER (ORDER BY key
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM keyed)
        |SELECT doc_id, chunk_id, chunk_tokens, off, CAST(off // 4096 AS BIGINT) AS shard
        |FROM o ORDER BY doc_id, chunk_id""".stripMargin,
    "p03_stratified_sample" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    least(CAST(floor(len(string_split(text, ' ')) / 100) AS BIGINT), 3) AS stratum,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |r AS (SELECT doc_id, stratum, bucket,
        |        ([10, 25, 50, 100])[stratum + 1] AS rate FROM f)
        |SELECT doc_id, stratum, bucket, CAST(rate AS BIGINT) AS rate
        |FROM r WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    // tertile assignment composes the pinned t02 scorer as a subquery;
    // the oracle's single global window IS the naive semantics the
    // two-level PrefixSum rank must reproduce exactly
    "p11_quality_tertiles" -> {
      val t02 = TextQueries.oracleSql("t02_quality")
      s"""WITH f AS (SELECT doc_id, quality FROM ($t02)),
         |r AS (
         |  SELECT doc_id, quality,
         |    row_number() OVER (ORDER BY quality DESC, doc_id) - 1 AS off,
         |    count(*) OVER () AS n
         |  FROM f)
         |SELECT doc_id, quality,
         |  CASE WHEN off < (n + 2) // 3 THEN 'head'
         |       WHEN off < (2 * n + 2) // 3 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "p12_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,9)) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(n_docs) AS sn, sum(w) AS sw FROM c)
        |SELECT source, n_docs,
        |  floor((CAST(n_docs AS DOUBLE) / CAST(sn AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS freq,
        |  floor((CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS temp_weight,
        |  floor(((CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)) / (CAST(n_docs AS DOUBLE) / CAST(sn AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS boost
        |FROM c, t ORDER BY source""".stripMargin,
    "p13_split" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val'
        |              ELSE 'test' END AS split, toks
        |  FROM d),
        |a AS (SELECT split, count(*) AS n_docs,
        |        CAST(sum(toks) AS BIGINT) AS n_tokens FROM s GROUP BY split),
        |t AS (SELECT sum(n_docs) AS tot FROM a)
        |SELECT split, n_docs, n_tokens,
        |  floor((CAST(n_docs AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS frac
        |FROM a, t ORDER BY split""".stripMargin,
    "p15_mix_epochs" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens,
        |    CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(28,9)) AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS sw FROM c)
        |SELECT source, n_docs, n_tokens,
        |  floor((CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS temp_weight,
        |  floor((CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS target_tokens,
        |  floor(((CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) * 1000000.0) / CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS epochs
        |FROM c, t ORDER BY source""".stripMargin,
    // the bitset is replayed relationally: bits = the distinct
    // (h1 + i*h2) mod m positions of the benchmark grams; a candidate
    // gram bloom-hits iff all k of its positions are in that set —
    // exactly the native filter's semantics, false positives included
    "p14_bloom_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM toks),
        |hg AS (
        |  SELECT doc_id, g,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |    CAST(concat('0x', substr(md5(concat('#', g)), 1, 15)) AS BIGINT) AS h2
        |  FROM grams),
        |bench AS (SELECT DISTINCT g, h1, h2 FROM hg WHERE doc_id % 20 = 0),
        |bits AS (SELECT DISTINCT (h1 + i * h2) % 65536 AS p
        |         FROM bench, (SELECT unnest(range(0, 3)) AS i) ii),
        |cand AS (SELECT doc_id, g, h1, h2 FROM hg WHERE doc_id % 20 <> 0),
        |probe AS (
        |  SELECT c.doc_id, c.g, count(b.p) AS nset
        |  FROM (SELECT doc_id, g, (h1 + i * h2) % 65536 AS p
        |        FROM cand, (SELECT unnest(range(0, 3)) AS i) ii) c
        |  LEFT JOIN bits b USING (p)
        |  GROUP BY c.doc_id, c.g),
        |scored AS (
        |  SELECT p.doc_id,
        |    CASE WHEN p.nset = 3 THEN 1 ELSE 0 END AS bloom_hit,
        |    CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
        |  FROM probe p LEFT JOIN (SELECT DISTINCT g FROM bench) e USING (g))
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(bloom_hit) AS BIGINT) AS n_bloom,
        |  CAST(sum(exact_hit) AS BIGINT) AS n_exact,
        |  CAST(sum(bloom_hit) - sum(exact_hit) AS BIGINT) AS false_pos,
        |  floor((CAST(sum(bloom_hit) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS bloom_contamination
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p16_epoch_shuffle" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat('e1:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS rh
        |  FROM documents),
        |s AS (SELECT doc_id, rh, rh % 8 AS shard FROM d)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY rh, doc_id) AS BIGINT) AS seq,
        |  doc_id
        |FROM s ORDER BY shard, seq""".stripMargin,
    "p17_length_buckets" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents),
        |b AS (SELECT greatest(64, ((toks + 63) // 64) * 64) AS cap, toks FROM d)
        |SELECT cap, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  cap * count(*) AS padded_tokens,
        |  floor((1.0 - CAST(sum(toks) AS DOUBLE) / CAST(cap * count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS pad_waste
        |FROM b GROUP BY cap ORDER BY cap""".stripMargin,
    "p18_datasheet" ->
      """WITH a AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_unique,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |  FROM documents)
        |SELECT n_docs, n_sources, n_langs,
        |  n_docs - n_unique AS exact_dup_docs,
        |  floor((CAST(n_docs - n_unique AS DOUBLE) / n_docs) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate,
        |  n_tokens,
        |  floor((CAST(n_tokens AS DOUBLE) / n_docs) * 1000000.0 + 0.5) / 1000000.0 AS mean_tokens,
        |  n_chars_total
        |FROM a""".stripMargin,
    "p19_cdc_chunk" ->
      s"""WITH $CdcChunkSql
         |SELECT doc_id, t - 1 AS k, chunks[CAST(t AS INT)] AS chunk,
         |  CAST(length(chunks[CAST(t AS INT)]) AS BIGINT) AS chunk_chars
         |FROM e ORDER BY doc_id, k""".stripMargin,
    "p20_cdc_dedup" ->
      s"""WITH $CdcChunkSql,
         |long AS (
         |  SELECT doc_id, t - 1 AS k, chunks[CAST(t AS INT)] AS chunk FROM e),
         |g AS (
         |  SELECT sha256(chunk) AS h,
         |    min({'doc_id': doc_id, 'k': k}) AS keep,
         |    count(*) AS n_copies
         |  FROM long GROUP BY h)
         |SELECT keep.doc_id AS doc_id, keep.k AS k, n_copies
         |FROM g ORDER BY doc_id, k""".stripMargin,
    // same ordered first-fail CASE; zero-count stages kept by the
    // VALUES dim; survivors = running total minus cumulated rejections
    "p21_filter_funnel" ->
      s"""WITH s AS (
         |  SELECT doc_id, len(t) AS words, len(list_distinct(t)) AS dw,
         |    length(replace(text, ' ', '')) AS chars,
         |    ${sqlHits(StopEn)} AS stop
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
         |cls AS (
         |  SELECT CASE WHEN words < 20 THEN 1
         |              WHEN chars > words * 8 THEN 2
         |              WHEN dw * 10 < words * 3 THEN 3
         |              WHEN stop * 25 < words THEN 4
         |              ELSE 5 END AS stage
         |  FROM s),
         |cnt AS (SELECT stage, count(*) AS n FROM cls GROUP BY stage),
         |tot AS (SELECT count(*) AS total FROM cls),
         |dim AS (SELECT * FROM (VALUES (1, 'too_short'), (2, 'long_words'),
         |  (3, 'repetitive'), (4, 'low_stopword'), (5, 'pass')) AS d(stage, rule)),
         |f AS (
         |  SELECT d.stage, d.rule, coalesce(n, 0) AS n
         |  FROM dim d LEFT JOIN cnt ON d.stage = cnt.stage)
         |SELECT CAST(f.stage AS BIGINT) AS stage, rule,
         |  CAST(CASE WHEN f.stage = 5 THEN 0 ELSE n END AS BIGINT) AS rejected,
         |  CAST(total - sum(CASE WHEN f.stage = 5 THEN 0 ELSE n END)
         |    OVER (ORDER BY f.stage) AS BIGINT) AS survivors
         |FROM f, tot ORDER BY stage""".stripMargin,
    // the streaming run's closed form: a single batch inside the
    // watermark horizon keeps exactly one row per distinct chunk hash,
    // and both published columns are functions of the hash
    "p22_stream_cdc_dedup" ->
      s"""WITH $CdcChunkSql,
         |long AS (
         |  SELECT doc_id, chunks[CAST(t AS INT)] AS chunk FROM e)
         |SELECT DISTINCT sha256(chunk) AS chunk_key,
         |  CAST(length(chunk) AS BIGINT) AS chunk_chars
         |FROM long ORDER BY chunk_key""".stripMargin,
    // p14's bloom layers, bloom columns only; candidates = non-benchmark
    // docs, n_grams counts the doc's distinct 3-grams
    "p23_stream_decontam" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM toks),
        |hg AS (
        |  SELECT doc_id, g,
        |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h1,
        |    CAST(concat('0x', substr(md5(concat('#', g)), 1, 15)) AS BIGINT) AS h2
        |  FROM grams),
        |bench AS (SELECT DISTINCT g, h1, h2 FROM hg WHERE doc_id % 20 = 0),
        |bits AS (SELECT DISTINCT (h1 + i * h2) % 65536 AS p
        |         FROM bench, (SELECT unnest(range(0, 3)) AS i) ii),
        |cand AS (SELECT doc_id, g, h1, h2 FROM hg WHERE doc_id % 20 <> 0),
        |probe AS (
        |  SELECT c.doc_id, c.g, count(b.p) AS nset
        |  FROM (SELECT doc_id, g, (h1 + i * h2) % 65536 AS p
        |        FROM cand, (SELECT unnest(range(0, 3)) AS i) ii) c
        |  LEFT JOIN bits b USING (p)
        |  GROUP BY c.doc_id, c.g)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN nset = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom
        |FROM probe GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )

  /** DuckDB mirror of [[graft.functions.TextFns.cdcChunks]] + explode-
    * with-ordinal, through CTE `e(doc_id, t, chunks)` — ONE definition
    * shared by the p19/p20 oracles (the Spark twin is likewise one
    * helper), replaying the per-window polynomial sum with the native
    * expression's own constants. DuckDB's ord()/string slicing index
    * code points, the same unit CdcCutsExpr counts.
    */
  // def, not val: referenced by the oracleSql val above — a val here
  // would still be null during that initializer
  private def CdcChunkSql: String = {
    import graft.expressions.CdcCutsExpr.{D, P, Pows, W}
    val pows = Pows.mkString("([", ", ", "]::BIGINT[])")
    s"""d AS (SELECT doc_id, text AS s, length(text) AS n FROM documents),
       |cut AS (
       |  SELECT doc_id, s, n,
       |    list_filter(range($W, n + 1), i ->
       |      (list_sum(list_transform(range(0, $W), j ->
       |        ord(s[CAST(i - j AS INT):CAST(i - j AS INT)]) * $pows[CAST(j + 1 AS INT)] % $P)) % $P) % $D = 0
       |    ) AS cuts
       |  FROM d),
       |bnd AS (
       |  SELECT doc_id, s,
       |    list_concat(list_concat([CAST(0 AS BIGINT)], cuts), [CAST(n AS BIGINT)]) AS b
       |  FROM cut),
       |ch AS (
       |  SELECT doc_id,
       |    list_filter(
       |      list_transform(range(1, len(b)), t ->
       |        s[CAST(b[CAST(t AS INT)] + 1 AS INT):CAST(b[CAST(t AS INT) + 1] AS INT)]),
       |      c -> length(c) > 0) AS chunks
       |  FROM bnd),
       |e AS (
       |  SELECT doc_id, unnest(range(1, len(chunks) + 1)) AS t, chunks
       |  FROM ch)""".stripMargin
  }
}
