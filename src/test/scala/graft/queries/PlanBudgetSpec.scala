package graft.queries

import graft.{SparkEntry, SparkSpec}

/** SHUFFLE BUDGETS: every query's static exchange count, pinned.
  *
  * The scale documentation (COVERAGE.md, PLANS.md) makes per-query
  * claims like "one content-hash shuffle" or "map-only before the
  * presentation sort" — this suite turns each claim into a regression
  * guard: a refactor that sneaks an extra Exchange into a plan (a lost
  * broadcast, a window where an aggregate belonged, a dropped
  * partitioning reuse) fails here instead of surfacing as a silent
  * slowdown at 100× the data. Budgets are the measured counts at pin
  * time; counts BELOW budget are fine (improvements tighten the pin).
  *
  * Counting is on `executedPlan`'s string form: exchanges are inserted
  * by EnsureRequirements during preparation (sparkPlan predates them),
  * and AQE's wrapper hides children from collect(). `BroadcastExchange`
  * is deliberately NOT counted — broadcasts are the cheap alternative
  * the budgets push plans toward; the word boundary excludes it.
  * Every budget INCLUDES the query's final presentation sort (one
  * range exchange), so "1" means zero compute shuffles.
  */
class PlanBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // run a real streaming query inside the builder — not a static plan
  private val excluded =
    Set("e05_stream_window", "e10_stream_session", "e11_stream_topk",
      "e13_stream_kmv", "e17_stream_join", "e19_stream_transitions",
      "e21_stream_anomaly",
      "p22_stream_cdc_dedup", "p23_stream_decontam",
      "d21_stream_sig_dedup", "e24_stream_outer_join",
      "e25_stream_full_outer_join", "e26_stream_right_outer_join",
      "e27_stream_static_enrich", "e28_stream_upsert", "e29_stream_funnel",
      "e30_stream_gaps", "e31_stream_hll", "e32_stream_shift",
      "e33_stream_asof", "e34_stream_asof_full", "s27_stream_ann_serve")

  // measured at sf0.001, shuffle.partitions=4 (tools.ShuffleCount):
  // DISTINCT Exchange plan objects (by plan_id) — live plan plus each
  // one-time memoized-prelude build exchange counted ONCE (the tree
  // string reprints nested memo builds per consumer and AQE initial
  // plans; mention counting would multiply one real shuffle ~6×).
  // d02/d03/d05/d10 embed the memoized dedup-prelude build exchanges
  private val budget: Map[String, Int] = Map(
    "d01_dedup_exact" -> 2,
    // d02..d18's embedded memo-build exchanges dropped ~2× when band
    // signatures became slot-array slices (the (doc_id, band) regroup
    // shuffle was deleted outright) and the verified pair frame joined
    // the memo (its verify join prints once, not per consumer)
    // d02..d20 +2 in r13: shingleSets is now WIDENED (see there) and
    // the one-time widen exchange prints 2 static plan_ids inside the
    // embedded memo-build subtree (AQE initial + final print — runtime
    // is one exchange, once per session)
    "d02_minhash_pairs" -> 10,
    "d03_minhash_lsh" -> 9, "d04_simhash" -> 2,
    // d06/d15/d16/d17 +4: the memoized exact pair build (embedded in
    // each plan) is now the blocked tile join, whose one tile exchange
    // prints 4 static plan_ids (both CartesianProduct sides, AQE
    // initial and final print); the per-pair nested-loop join it
    // replaced broadcast its input, which is not counted
    "d05_ngram_jaccard" -> 9, "d06_embed_neardup" -> 7,
    "d07_dedup_clusters" -> 1, "d08_sig_dedup" -> 2,
    "d09_dedup_keep" -> 3, "d10_edit_verify" -> 9,
    // d11 embeds the quantizer memo's first-build plan when it is the
    // first toucher (k-means fit exchanges print inside the subtree)
    // d12 +3 in r13: the band sweep's collect_list bucket expansion
    // became count-filter → self-join → verdict join-back (same pair
    // multiset, no ObjectHashAggregate sort-fallback, bucket state
    // capped at the exchange) — three more SMALL exchanges (pair-scale)
    // in place of one array-state aggregate that spilled
    "d11_semdedup" -> 6,
    // d12 12→18 in r14: the memoized sweep frame's r=4 config now
    // REUSES lshCandidates (one fewer runtime banding build per
    // session), so the embedded one-time memo-build subtree prints the
    // lsh build's exchanges too; the LIVE per-run plan is unchanged
    // (pair-scale aggregate + broadcast-back join)
    "d12_lsh_tuning" -> 18,
    "d13_auto_dedup" -> 3, "d14_incremental_dedup" -> 1,
    // d15/d17 pipeline the shared signProposals banding join inline
    // (deliberately not materialized — the 2-bit config proposes ~all
    // pairs, caching it would cost n²/4 rows)
    "d15_blocking_eval" -> 10, "d17_threshold_sweep" -> 10,
    "d18_containment" -> 9, // d05's candidate-verify shape
    // e18: user-lag window + tiny (prev,next) matrix agg + present sort
    "e18_transitions" -> 4,
    // t18: the uni/bi aggregate subtrees print once per consumer
    // (n_x/n_y broadcasts + the 1-row totals); runtime reuses the
    // exchanges (ReusedExchange), vocab-sized rows either way
    "t18_pmi_collocations" -> 7,
    // d19: CC + PageRank both truncate lineage per round
    // (localCheckpoint), so the static plan is the keeper window over
    // two checkpoint scans; iteration exchanges run inside the rounds
    "d19_central_keeper" -> 4,
    // g01: per-iteration exchanges run eagerly inside localCheckpoint
    // rounds; the static tail plan is checkpoint-scan + presentation
    "g01_pagerank" -> 0,
    // g02: LPA rounds run inside checkpoints like g01; static tail =
    // community aggregate + presentation sort over the label scan
    "g02_label_prop" -> 1,
    // g03: r13 — the co-purchase edge build moved into the memoized
    // g00 prelude; its one-time build exchanges print once inside the
    // InMemoryRelation subtree (the d02 memo-embed convention), while
    // the per-query runtime work DROPPED by the whole build (measured
    // 7 static, was 6 with the build hidden behind a localCheckpoint)
    "g03_triangles" -> 7,
    // g04: relaxation rounds run inside checkpoints; static tail =
    // seed-degree argmax + distance census + presentation sort
    "g04_bfs_reach" -> 2,
    // g06: relaxation rounds run inside checkpoints (g04's shape);
    // static tail = seed-degree argmax + cost census + presentation sort
    "g06_sssp" -> 2,
    "e01_sessionize" -> 2, "e02_running_window" -> 2,
    "e03_json_stats" -> 2, "e04_topn_per_group" -> 3,
    "e06_topk_agg" -> 2, "e07_topk_native" -> 2,
    "e08_topk_plan" -> 2, "e09_session_window" -> 2,
    "e12_sliding_window" -> 2, "e14_funnel" -> 2,
    // e20: (user, day) count + user-keyed moments window + present sort
    "e20_rate_anomaly" -> 3,
    "e15_cohort" -> 4, "e16_rolling_users" -> 4,
    "m01_binary_meta" -> 1, "m02_frame_sample" -> 1,
    // m07: render→decode→ledger rides the mapPartitions scan; the one
    // exchange is the presentation sort
    "m07_image_roundtrip" -> 1,
    // m10: the audio sibling — WAV render→real-decode→amp ledger in the
    // same mapPartitions shape; one presentation sort (measured 1)
    "m10_audio_roundtrip" -> 1,
    // m11: the video sibling — AVI render→container walk→per-frame
    // ledger, same shape; one presentation sort (measured 1)
    "m11_video_frames" -> 1,
    // m03: r13 — the memoized pair build's input is WIDENED
    // (Tables.widenIfNarrow) so the decode+feature pass parallelizes;
    // the one widen exchange prints 3 static plan_ids inside the
    // InMemoryRelation subtree (both self-join sides + the AQE-final
    // print; runtime shows one exchange + ReusedExchange). Measured 4.
    "m03_media_neardup" -> 4, "m04_resize" -> 1,
    // m08: presentation-only over the memoized REAL-codec pair frame
    // (m03's shape — render→real-decode→LSH→pair built once, persisted);
    // r13: same widen-embed as m03 (measured 4)
    "m08_media_real_neardup" -> 4,
    // m09: CC rounds ran eagerly inside checkpoints (m05's shape);
    // static tail = census aggregate + presentation sort
    "m09_media_real_clusters" -> 2,
    // p02/p14 +2/+3 in r13: the per-query gram-explode widen (one
    // real one-time exchange; AQE initial+final prints — see t14)
    "p01_clean_corpus" -> 2, "p02_contamination" -> 5,
    "p03_stratified_sample" -> 1, "p04_source_mix" -> 3,
    "p05_redact" -> 1, "p06_chunk" -> 1,
    "p07_chunk_dedup" -> 2, "p08_pack" -> 4,
    "p09_sample_topk" -> 2, "p10_pipeline" -> 4,
    "p11_quality_tertiles" -> 4, "p12_temperature_mix" -> 2,
    "p13_split" -> 2, "p14_bloom_decontam" -> 8,
    "p15_mix_epochs" -> 2, "p16_epoch_shuffle" -> 2,
    "p17_length_buckets" -> 2, "p18_datasheet" -> 2,
    "p19_cdc_chunk" -> 1, "p20_cdc_dedup" -> 2,
    "q01_filter_isin" -> 1, "q02_group_count" -> 2,
    "q03_distinct" -> 2, "q04_nway_join_agg" -> 2,
    "q05_align_outer" -> 3, "q06_union_missing" -> 1,
    "q07_regexp_extract" -> 1, "q08_split_unnest" -> 1,
    "q09_cond_scale" -> 1, "q10_value_replace" -> 1,
    "q11_pivot" -> 3, "q12_union_distinct" -> 2,
    "q13_factor_join" -> 1, "q14_numeric_cols" -> 1,
    // s01..s22 +2 in r14: the whole s-family now consumes the shared
    // memoized vecsNorm frame (Quantizer) instead of re-normalizing the
    // single-split scan per row — the memo build's one-time widen
    // exchange prints 2 static plan_ids inside the embedded subtree
    // (AQE initial + final, the shingleSets precedent); runtime is ONE
    // exchange once per session and each row DROPS its own normalize pass
    "s01_cosine_topk" -> 4, "s02_lsh_topk" -> 4,
    "s03_ivf_topk" -> 5, "s04_sq8_topk" -> 4,
    "s05_pq_topk" -> 4, "s06_lsh_recall" -> 10,
    "s07_ivf_recall" -> 11, "s08_pq_recall" -> 12,
    "t01_langid" -> 1, "t02_quality" -> 1,
    "t03_tokens" -> 1, "t04_fingerprint" -> 1,
    // t06: r13 — per-doc stats fold inside one projection (array_distinct
    // + sorted-run max); the two corpus×n-gram exchanges are gone, the
    // one left is the presentation sort (measured 1, was 3)
    "t05_tfidf" -> 5, "t06_repetition" -> 1,
    "t07_vocab" -> 2, "t08_bm25" -> 5,
    "t09_countmin" -> 3, "t10_normalize" -> 1,
    "t11_lang_confusion" -> 2, "t12_hash_classifier" -> 1,
    // t14: the memoized bigram frame is a PROJECTION (native
    // CharBigramsExpr folds per-doc counts in one pass — no build
    // exchange at all); live = model agg + doc agg + sort.
    // t14/t16/t17/t21/t23/t24 +2 in r13: the corpus memo builds
    // (bigram/trigram/bpe-word counts) are now WIDENED like shingleSets,
    // and the one-time widen exchange prints 2 static plan_ids inside
    // the embedded memo-build subtree (AQE initial + final print —
    // runtime is one exchange, once per session)
    "t13_classifier_eval" -> 2, "t14_bigram_typicality" -> 5,
    // t15: merges are served from the trained-model memo (driver-side
    // rows); the only exchange is the presentation sort
    "t15_bpe_merges" -> 1,
    // t16/t17: +1 over the pre-memo pins — the memoized bpe_word_counts
    // build exchange prints once inside the InMemoryRelation subtree
    // (one-time build per session/dir, the d02 memo-embed convention);
    // the live per-query shuffles are unchanged
    "t16_bpe_vocab" -> 5,
    "t17_bpe_doc_tokens" -> 7,
    // t25: the persisted-model serve runs eagerly (write -> re-read ->
    // checkpoint, the s23 shape); static tail = checkpoint scan + sort
    "t25_bpe_persisted" -> 1,
    // t26: the persisted NB-model serve runs eagerly (write → re-read →
    // checkpoint, the t25 shape); static tail = checkpoint scan + sort
    "t26_langid_persisted" -> 1,
    // t28: artifact write + re-read run eagerly, the corpus tokenization
    // is checkpointed; static tail = checkpoint scan + presentation
    // sort (measured 1)
    "t28_bpe_serve" -> 1,
    // t27: build + shard-append + merged serve all run eagerly (s26's
    // shape); static tail = checkpoint scan + sort (measured 1; t23/t26
    // re-measured at their pins after the nbFromCounts extraction)
    "t27_langid_append" -> 1,
    // t29: build + append + flat-compact + serve-from-compacted, all
    // eager (s29's shape on the text artifact); static tail =
    // checkpoint scan + sort (measured 1)
    "t29_langid_compacted" -> 1,
    // t19: map-only regex counts + presentation sort
    "t19_readability" -> 1,
    "x01_semi_join" -> 1, "x02_anti_join" -> 1,
    "x03_intersect" -> 2, "x04_except" -> 2,
    "x05_window_tumbling" -> 2, "x06_date_parts" -> 2,
    "x07_from_json" -> 1, "x08_rollup" -> 2,
    "x09_histogram" -> 2, "x10_unpivot" -> 1,
    "x11_skew_salted_join" -> 3, "x12_percentiles" -> 2,
    "x13_asof_join" -> 3, "x14_range_join" -> 3,
    "x15_cube" -> 2, "x16_distinct_counts" -> 3,
    "x17_kmv_distinct" -> 2, "x18_zorder" -> 1,
    "x21_hll_distinct" -> 2, "x22_grouping_sets" -> 2,
    "x19_latest_by_key" -> 2, "x20_mm_window" -> 1,
    // x23: min/max agg, 256-bin histogram agg, 256-row cumulative
    // window, per-quantile argmin agg, presentation sort — the sketch
    // itself crosses the shuffle as ≤256 constant-size bin counts
    "x23_quantile_sketch" -> 5,
    // x24: the distinct-items subtree appears 4× statically (self-join
    // sides, per-item counts, basket total) — ReusedExchange collapses
    // the identical shuffles at runtime, so the data-scale cost is one
    // distinct + one pair aggregate + the rule joins
    "x24_assoc_rules" -> 13,
    // x25: one user-partitioned exchange shared by both windows and the
    // interval aggregate, + presentation sort
    "x25_scd2_intervals" -> 2,
    // d20: token-df aggregate, per-doc rank window, prefix self-join,
    // candidate distinct, verify joins + presentation sort
    "d20_prefix_filter_join" -> 7,
    // e22: boundary collapse aggregate, per-(type,day) sweep window,
    // presentation sort
    "e22_max_concurrency" -> 3,
    // x26: one exchange on the partition key feeds both window sorts,
    // + presentation sort
    "x26_ranking_funcs" -> 2,
    // x27: full-outer SMJ (both sides) + presentation sort
    "x27_merge_upsert" -> 3,
    // x28: two partial aggregates (base snapshot + delta) + the merge
    // aggregate; at 100 TB the base partial is a persisted view and
    // only the delta side recomputes
    "x28_incremental_agg" -> 3,
    // g05: the peel runs eagerly inside per-round checkpoints with
    // driver-side convergence counts; the returned profile is a
    // LocalTableScan of 12 literal rows + the presentation sort
    "g05_kcore_peel" -> 1,
    // s13: the s03 probe/search shape + the member-filter — centroid
    // agg, probe window, rank window
    "s13_filtered_ann" -> 5,
    // p21: stage-count aggregate, corpus total, 5-row funnel window —
    // the corpus itself never shuffles (map-only rule evaluation)
    "p21_filter_funnel" -> 3,
    "s09_ann_mrr" -> 20, "s10_ivf_nprobe" -> 14,
    // s11/d16 read the memoized quantizer frames; budgets include the
    // k-means fit's centroid-fold and update exchanges printed on first
    // (uncached) planning. s12 composes s01+s03+s11.
    "s11_kmeans_topk" -> 6, "s12_quantizer_recall" -> 19,
    "d16_blocking_compare" -> 14,
    // d22: span-key aggregate + doc-islands window + presentation sort;
    // the dup-key set broadcasts back onto the spans side and the
    // run/per-doc aggregates ride the window's doc partitioning
    "d22_substring_dedup" -> 3,
    // d23: the d05 propose/verify chain (embeds the memoized prelude
    // build exchanges like d05's 15) + two split-map joins
    "d23_split_leakage" -> 15,
    // p24: per-range totals aggregate, |ranges|-row offsets window,
    // within-range cumsum window, 1-row total aggregate, presentation
    // sort — the corpus itself crosses one exchange (the range window);
    // offsets + total are range-count / single-row frames
    "p24_pps_sample" -> 5,
    // s14: greedy rounds run eagerly inside per-round localCheckpoints;
    // the static tail is the 5-row union of checkpoint scans + the
    // presentation sort (1 range exchange)
    "s14_mmr_diverse" -> 1,
    // x30: one map-side-combined fingerprint aggregate + presentation sort
    "x30_fingerprint" -> 2,
    // x29: (type, day) count, distinct-types + 1-row bounds aggregates
    // feeding the broadcast grid, grid⋈obs + LOCF window sharing one
    // exchange, presentation sort — the corpus crosses only the count
    "x29_gap_fill" -> 4,
    // s15: each leg is a TakeOrdered top-20 (no exchange) + a bounded
    // 20-row single-partition rank window; the fusion full-outer SMJ
    // + presentation sort account for the rest
    "s15_rrf_hybrid" -> 6,
    // x31: ONE aggregate (six exact distincts on one Expand) +
    // presentation sort over 6 rows
    "x31_profile" -> 2,
    // t20: map-only per-class counts + entropy terms; presentation sort
    "t20_entropy" -> 1,
    // g07: restart rounds run eagerly inside localCheckpoints (g01's
    // shape); static tail = checkpoint scan + presentation sort
    "g07_ppr" -> 0,
    // g10: HITS half-steps run eagerly inside localCheckpoints (g01's
    // shape); static tail = checkpoint scans + TakeOrdered (measured 0)
    "g10_hits" -> 0,
    // x32: the x29 grid materializes once (localCheckpoint); static
    // tail = replicate-aggregate + join-back + presentation sort
    "x32_ewma" -> 2,
    // s16: s02's bucket-equi shape (probes explode map-side on the
    // query frame) — candidate join + rank window + presentation sort
    "s16_mplsh_topk" -> 4,
    // s17: composes s01 (exact side) + s16 — the s06 evaluation shape
    "s17_mplsh_recall" -> 10,
    // t21: the memoized bigram frame is exchange-free (see t14); the
    // model/cx smoothing folds are aggregates over the ≤27²-row model
    // frame (measured 5 with the native build, was 8 inline)
    "t21_bigram_lm" -> 7, // +2 r13: widened bigram memo build (see t14)
    // p25: grouped two-level prefix sum (per-(source,range) partials,
    // tiny offsets frame, in-range window) + source totals +
    // presentation sort
    "p25_mix_fill" -> 7,
    // d24: the chunk frame materializes once (localCheckpoint — its
    // three consumers re-planned the token explode otherwise, 7 → 4);
    // static tail = dup agg (broadcast anti back), totals + reassembly
    // aggs, presentation sort
    "d24_chunk_clean" -> 4,
    // g08: r13 — memoized g00 edge build embeds once (see g03);
    // live tail unchanged: deg/ctr, wedge equi-join, pair agg, anti
    // join, TakeOrdered (measured 8)
    "g08_adamic_adar" -> 8,
    // g09: g08's shape + the two full-degree scoring joins (deg is
    // node-scale, NOT a broadcastable dim at 100 TB — shuffle joins
    // on a/b are the honest plan); r13 re-measured 8 with the memoized
    // edge build (was 10 building inline)
    "g09_neighbor_jaccard" -> 8,
    // s18: s03's coarse probe + s05's codebook/ADC over the
    // checkpointed sub frame + rerank (broadcasts excluded as always)
    "s18_ivfpq_topk" -> 8,
    // s23/s24: the persisted-index lifecycle runs eagerly (build →
    // write → serve-from-disk → checkpoint) inside the builder, d14's
    // side-effectful shape; static tail = checkpoint scan +
    // presentation sort (measured 1 each). The serving scans are
    // statically pruned to the probed label= partitions via the
    // bounded probe-set IN filter (measured: exactly the 5 probed of
    // 10 directories opened at sf0.001); the DPP path for unbounded
    // probe sets is pinned by io.PersistedIndexSpec
    "s23_ivf_persisted" -> 1,
    "s24_ivfpq_persisted" -> 1,
    // s25: the trained-quantizer lifecycle, same eager shape (measured
    // 1; probed-cid static pruning measured 6 of 8 dirs at sf0.001)
    "s25_kmeans_persisted" -> 1,
    // s26: build + delta-append + serve all run eagerly (s23's shape);
    // static tail = checkpoint scan + presentation sort (measured 1)
    "s26_ivf_append" -> 1,
    // s28: the persisted sign-LSH lifecycle, same eager shape — static
    // tail = checkpoint scan + presentation sort (measured 1)
    "s28_lsh_persisted" -> 1,
    // s29: build + append + compactPartitioned + serve-from-compacted,
    // all eager (s26's shape); static tail = checkpoint scan +
    // presentation sort (measured 1)
    "s29_ivf_compacted" -> 1,
    // p26: the two-level PrefixSum (p08's 4) — the sequence explode
    // and span arithmetic are map-side; presentation sort included
    "p26_seq_pack" -> 4,
    // x33: x29's grid exchange chain + the two bounded window frames
    // (one partition exchange) + TakeOrdered
    "x33_level_shift" -> 5,
    // t22: the (source, word) aggregate materializes once
    // (localCheckpoint; its four consumers re-planned the token
    // explode otherwise, 10 → 6); static tail = cw/ts/tot folds +
    // terms join + per-source agg + presentation sort
    "t22_source_kl" -> 6,
    // s19: bucket assignment agg + size histogram agg + presentation
    // sort — corpus crosses one exchange
    "s19_lsh_histogram" -> 5,
    // s20: s02's broadcast bucket join, τ filter map-side — only the
    // presentation sort exchanges (measured 1)
    "s20_range_search" -> 3,
    // t23: train (lang,g) agg + countDistinct expand + pivoted model
    // agg + doc-score agg + confusion agg + sort; model/totals ride as
    // broadcasts. The eval side is a pure FILTER over the memoized
    // per-doc trigram-count frame (CharTrigramsExpr folds the per-doc
    // aggregate inside the projection, so the former (doc,lang,g)
    // eval exchange is gone) — measured 8, down from 9
    "t23_trigram_langid" -> 10, // +2 r13: widened trigram memo build (see t14)
    // t24: t17's composed shuffles (incl. the one-time memo-build
    // exchange, see t16/t17) + the lang rollup + sort (measured 6)
    "t24_fertility" -> 8, // +2 r13: widened bpe-word memo build (see t14)
    // x35: ONE corpus aggregate (bounded kmv_set state, checkpointed
    // sketch frame) + the dimension-sized pairwise stage + sort
    // (measured 1)
    "x35_kmv_overlap" -> 1,
    // p28: one corpus scan into a 1-row aggregate + the 1-row tail
    // (measured 1)
    "p28_pack_efficiency" -> 1,
    // m06: one scan, bucket aggregate with the countDistinct expand,
    // presentation sort (measured 3)
    "m06_size_histogram" -> 3,
    // d25: three tier shuffles (content hash, signature key, semi/anti
    // joins) + the embedded memoized candidate-build exchanges (d02's
    // shape); CC rounds run inside checkpoints (measured 13)
    "d25_dedup_funnel" -> 13,
    // s22: exact + bucketed rank windows, the (query, neighbor) rank
    // join, one 4-point fold + sort (measured 7)
    "s22_recall_curve" -> 9,
    // s21: exact radius scan + s20 + intersect/agg recall tail
    // (measured 6)
    "s21_range_recall" -> 8,
    // x34: two pushed-filter scans, ONE key shuffle pair for the
    // full-outer SMJ, 4-row aggregate + presentation sort
    "x34_snapshot_diff" -> 4,
    // m05: CC rounds ran eagerly inside checkpoints (d07's shape);
    // static tail = census aggregate + presentation sort
    "m05_media_clusters" -> 2,
    // p27: the gram-hash frame materializes once (localCheckpoint,
    // two consumers); train dedupe + eval dedupe + probe join +
    // presentation sort
    "p27_split_overlap" -> 4)

  private def shuffles(planStr: String): Int =
    graft.tools.ShuffleCount.count(planStr)

  test("every query stays within its pinned shuffle budget") {
    val names = SparkEntry.queries.keySet -- excluded
    val unpinned = names -- budget.keySet
    assert(unpinned.isEmpty,
      s"new queries need a measured shuffle budget (tools.ShuffleCount): $unpinned")
    val over = names.toSeq.sorted.flatMap { name =>
      val n = shuffles(
        SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString)
      if (n > budget(name)) Some(s"$name: $n > ${budget(name)}") else None
    }
    assert(over.isEmpty, s"shuffle budget exceeded:\n${over.mkString("\n")}")
  }
}
