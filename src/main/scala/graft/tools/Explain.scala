package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{Engine, SparkEntry}
import graft.operators.CacheScope

/** Formatted physical plans of registered queries, in PLANS.md's format
  * (`## name` and the fenced plan): the plan-shape evidence (pushdown,
  * pruning, broadcast, partial agg, codegen spans) reviewers can read
  * without running anything, and the before/after plans of an
  * optimization.
  *
  * Usage: `Explain [out|-] [name,name,...] [sfDir]`. `out` defaults to
  * PLANS.md and `-` prints to stdout; the names default to the headline
  * list below; `sfDir` defaults to sf0.001. The session is
  * `Engine.session` at `SPARK_GRAFT_CPUS` cores (default 32), the shape
  * Bench plans under. A query that fails to plan gets an
  * `EXPLAIN FAILED: <message>` body instead of ending the dump.
  */
object Explain {
  private val headline = Seq(
    "ref_value_counts", "ref_clicks_by_segment", "rel_revenue_by_nation",
    "rel_top_orders", "rel_rank_lines", "rel_dense_rank",
    "rel_price_quartiles_approx", "dd_minhash", "dd_ngram_jaccard",
    "dd_ppjoin", "dd_dedup_corpus", "sim_topk_bruteforce", "sim_topk_ivf",
    "txt_corpus_pipeline", "txt_tfidf", "txt_repetition",
    "rel_stratified_sample", "rel_range_join", "txt_decontaminate",
    "txt_corpus_mix", "txt_seq_pack", "txt_shuffle_shards",
    "txt_bpe_pairs", "dd_chunk_dup", "sim_topk_sq8", "rel_zorder_layout",
    "txt_cms_termfreq", "txt_budget_mix", "rel_group_quartiles",
    "sim_topk_sq8_ivf", "txt_bm25", "ref_retention_cohorts",
    "ref_markov_transitions", "ref_dau_stickiness", "ref_value_outliers",
    "rel_winsorize", "ref_conversion_lag", "ref_session_lift",
    "rel_fuzzy_name_match", "rel_daily_filled", "dd_triangles",
    "ref_funnel", "mm_decode", "dd_index_persist", "ref_retention_rates",
    "rel_mad", "ref_path_trigrams", "ref_gap_quantiles", "rel_dq_audit",
    "txt_lm_score", "dd_pagerank", "sim_topk_pq", "sim_topk_pq_ivf",
    "mm_audio_decode", "dd_winnowing", "sim_doc_hash_topk",
    "dd_soft_dedup", "mm_video_decode", "mm_jpeg_decode",
    "dd_kcore", "txt_lm_kn",
    "dd_substring", "mm_phash_dup", "txt_kn_screen", "txt_ccnet_full",
    "txt_bpe_train", "rel_scd2", "dd_communities", "sim_topk_pq_refine",
    "mm_ahash_dup",
    "rel_linreg", "rel_skyline", "txt_collocations", "mm_audio_features",
    "sim_mips_topk", "sim_mips_lsh", "dd_bloom_screen", "dd_bfs_hops",
    "dd_semdedup", "rel_rfm", "sim_kmeans_stats",
    "ref_attribution_linear", "mm_scene_cuts",
    "txt_bpe_encode", "ref_window_funnel", "ref_lorenz", "dd_modularity",
    "txt_boilerplate_strip", "dd_cc_incremental", "rel_ses_forecast",
    "sim_rrf_hybrid", "rel_survival_km", "ref_cusum_shift", "rel_item_cf",
    "ref_hits", "rel_holt_forecast", "ref_chisq_type_dow", "txt_rank_auc",
    "txt_sparse_knn", "txt_feature_hash", "ref_user_gini", "sim_pca_power",
    "dd_assortativity", "ref_ab_ztest", "rel_hll_reaggregate",
    "rel_jackknife_mean", "ref_weighted_pagerank", "ref_markov_eval",
    "txt_rake", "ref_fano_burstiness", "mm_goertzel", "rel_scd2_asof",
    "rel_snapshot_diff", "dd_link_predict", "txt_dsir_screen",
    "sim_triplet_mine", "sim_triplet_lsh", "dd_harmonic",
    "txt_heaps_law", "rel_benford_audit", "ref_welch_ttest",
    "mm_histogram", "ref_type_concentration", "ref_labels",
    "txt_bpe_train_sampled", "rel_variant_props",
    "rel_recursive_months", "rel_topk_reaggregate",
    "rel_lateral_topn", "ref_isotonic_rate", "ref_trend_mk",
    "fmt_csv_roundtrip", "fmt_partitioned_scan", "fmt_json_quarantine",
    "mm_resize", "rel_skew_advisor", "rel_compaction_plan",
    "dd_harmonic_sampled",
    "rel_k_anonymity", "rel_dataset_fingerprint", "rel_fingerprint_delta",
    "mm_tile_dedup",
    "sim_topk_pq_refine_sampled", "gov_privacy_screen",
    "gov_manifest_screen", "gov_cardinality_screen",
    "sim_topk_pq_ivf_refine")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val names = args.lift(1).map(_.split(',').toSeq).getOrElse(headline)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = Engine.session(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.Explain` on `$sfDir`. Things to see:\n")
    sb.append("`PushedFilters`/`ReadSchema` on every scan, `BroadcastHashJoin`\n")
    sb.append("for dimensions, partial+final `HashAggregate`, codegen stage ids.\n")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      // each plan inside its own scope: an earlier query's cache must not
      // turn this one's scan into an InMemoryRelation
      val plan =
        try CacheScope.scoped(
          fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}\n" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    if (out == "-") {
      // bytes, not print: the JVM's stdout charset may not be UTF-8
      System.out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      System.out.flush()
    } else {
      Files.writeString(Paths.get(out), sb.toString)
      println(s"wrote $out")
    }
    spark.stop()
  }
}
