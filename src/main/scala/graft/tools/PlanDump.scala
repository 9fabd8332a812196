package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry

/** Dumps query plans. By default `explain("formatted")` for the headline
  * queries into a markdown file (PLANS.md) — the committed evidence
  * trail for the per-operator plan audits (pushdown reached the scan,
  * dims broadcast, exchanges reused, no stray cartesian/window). With
  * `out` = `-` it prints the named queries' plans to stdout instead, for
  * ad-hoc inspection of any query, in one JVM for the whole list. Not
  * part of the driver contract. Usage:
  *   runMain graft.tools.PlanDump [sfDir] [out | -] [q1,q2,...] [mode]
  * where `mode` is an explain mode (formatted, extended, simple,
  * codegen, cost; default formatted).
  */
object PlanDump {
  private val Picks = Seq(
    "q01_filter_isin", "q04_nway_join_agg", "d01_dedup_exact",
    "d03_minhash_lsh", "d07_dedup_clusters", "s02_lsh_topk",
    "s03_ivf_topk", "s04_sq8_topk", "e08_topk_plan", "e09_session_window",
    "m03_media_neardup", "t06_repetition", "p06_chunk",
    "x11_skew_salted_join", "x13_asof_join", "x15_cube",
    "s05_pq_topk", "t09_countmin", "p08_pack", "p09_sample_topk",
    "x17_kmv_distinct", "x18_zorder", "p10_pipeline",
    "e16_rolling_users", "p11_quality_tertiles",
    "d11_semdedup", "t12_hash_classifier", "p14_bloom_decontam",
    "p16_epoch_shuffle", "p17_length_buckets", "t14_bigram_typicality",
    "d12_lsh_tuning", "d13_auto_dedup", "x19_latest_by_key",
    "d14_incremental_dedup", "d15_blocking_eval", "x20_mm_window",
    "p19_cdc_chunk", "p20_cdc_dedup", "t17_bpe_doc_tokens",
    "s11_kmeans_topk", "d16_blocking_compare",
    "x21_hll_distinct", "g01_pagerank", "d19_central_keeper",
    "t18_pmi_collocations", "e18_transitions",
    "g02_label_prop", "g03_triangles", "g04_bfs_reach",
    "e20_rate_anomaly", "t19_readability",
    "x23_quantile_sketch", "d20_prefix_filter_join", "e22_max_concurrency",
    "x24_assoc_rules", "x25_scd2_intervals", "x26_ranking_funcs",
    "x27_merge_upsert", "x28_incremental_agg", "g05_kcore_peel",
    "s13_filtered_ann", "p21_filter_funnel",
    "d22_substring_dedup", "p24_pps_sample",
    "x29_gap_fill", "s14_mmr_diverse", "g06_sssp", "x30_fingerprint",
    "s15_rrf_hybrid", "x31_profile", "g07_ppr", "t20_entropy", "x32_ewma",
    "s16_mplsh_topk",
    "t21_bigram_lm", "p25_mix_fill", "d24_chunk_clean", "g08_adamic_adar",
    "s18_ivfpq_topk", "p26_seq_pack", "x33_level_shift",
    "t22_source_kl", "s19_lsh_histogram", "x34_snapshot_diff",
    "m05_media_clusters", "p27_split_overlap", "g09_neighbor_jaccard",
    "s20_range_search", "t23_trigram_langid", "t24_fertility",
    "x35_kmv_overlap", "g10_hits", "p28_pack_efficiency",
    "s22_recall_curve", "m06_size_histogram", "m07_image_roundtrip",
    "d25_dedup_funnel",
    "s23_ivf_persisted", "s24_ivfpq_persisted", "s25_kmeans_persisted",
    "s26_ivf_append",
    "m08_media_real_neardup", "m09_media_real_clusters",
    "s28_lsh_persisted", "t27_langid_append",
    "s29_ivf_compacted", "t28_bpe_serve", "t29_langid_compacted",
    "m10_audio_roundtrip", "m11_video_frames")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val only = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val mode = ExplainMode.fromString(args.lift(3).getOrElse("formatted"))
    val toStdout = out == "-"
    // a file dump is spliced into the audited PLANS.md (the name filter
    // re-dumps only these sections), so a typo'd or not-yet-listed name
    // must fail loudly, not splice an incomplete dump
    if (!toStdout) only.foreach { f =>
      val unknown = f.toSet -- Picks.toSet
      require(unknown.isEmpty,
        s"filter names not in Picks (add them first): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val picked = only.fold(Picks)(f => if (toStdout) f else Picks.filter(f.toSet))
    val spark = graft.Sessions.local(8)
    def section(name: String): String = {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.explainString(mode)
      s"## $name\n\n```\n${plan.trim}\n```\n"
    }
    if (toStdout) picked.foreach(name => println(section(name)))
    else Files.writeString(Paths.get(out),
      s"<!-- generated by graft.tools.PlanDump at $dir; commentary added by hand -->\n\n" +
        picked.map(section).mkString("\n"))
    spark.stop()
  }
}
