package graft

import org.scalatest.funsuite.AnyFunSuite

/** The M×R-grid analog for the query surface: results must be identical
  * across shuffle-partition counts (the driver's oracle compare assumes
  * it; all orderings carry total tie-breaks and all aggregates are
  * order-independent).
  */
class DeterminismSpec extends AnyFunSuite with SparkTestBase {

  private val Queries = Seq(
    "q1_inverted_index", "q14_window_topn", "q31_minhash_lsh",
    "q50_hourly_windows", "q40_knn_brute", "q33_simhash",
    "q8_tfidf", "q9_bm25", "q26_phrase_count", "q43_label_centroids",
    "q58_quantiles", "q71_hash_split",
    "q81_mix_sources", "q82_token_chunks", "q83_quantize_embed",
    "q84_pack_sequences", "q85_knn_quantized", "q86_training_corpus",
    "q87_vocab_coverage",
    "q88_logfreq_quality", "q89_semantic_dedup", "q90_train_order",
    "q91_matryoshka_knn", "q92_bigram_coherence",
    "q93_bloom_decontaminate", "q94_packing_efficiency", "q95_zorder_layout",
    "q96_dup_passage_fraction",
    "q97_dedup_cross_corpus", "q98_rebalance_sample", "q99_kmeans",
    "q100_length_gate", "q101_passage_dedup", "q102_pii_scrub",
    "q103_dup_spans", "q104_table_profile", "q105_bpe_pairs",
    "q106_histogram", "q107_sliding_windows", "q108_session_window",
    "q109_pq_encode", "q110_pq_adc_knn", "q112_ivf_pq_knn",
    "q111_click_attribution", "q113_heavy_hitters_cms",
    "q114_cluster_weights",
    "q115_textrank", "q116_join_cardinality", "q117_index_compaction",
    "q118_hard_negatives", "q119_bloom_join_prune", "q120_winsorize",
    "q121_source_topk",
    "q122_funnel", "q123_retention", "q124_ann_recall", "q125_scd2",
    "q126_incremental_agg", "q127_source_overlap", "q128_equidepth_histogram",
    "q129_grouping_sets", "q130_name_match", "q131_multi_touch",
    "q132_revenue_share", "q133_association_rules",
    "q134_merge_upsert", "q135_snapshot_diff", "q137_gapfill_ma",
    "q139_markov_transitions", "q141_standardize", "q142_ref_integrity",
    "q136_pmi_collocations", "q138_weighted_sample", "q140_boolean_search",
    "q143_ewma", "q144_pareto_frontier", "q145_session_paths",
    "q146_ohlc_bars", "q147_mad_outliers", "q148_copurchase_recs",
    "q149_skew_profile", "q150_triangle_count", "q151_locf_backfill",
    "q152_prefix_filter_join", "q153_sparse_cosine", "q154_k_anonymity",
    "q155_compaction_bins",
    "q156_token_entropy", "q157_psi_drift", "q158_corr_matrix",
    "q159_split_leakage",
    "q160_stratified_sample", "q161_ab_test", "q162_chi2_independence",
    "q163_conversion_lag",
    "q164_confusion_matrix", "q165_auc_rank", "q166_calibration",
    "q167_groupwise_ols", "q168_benford", "q169_gini",
    "q170_source_kl", "q171_cusum_changepoint", "q172_dow_seasonality",
    "q173_rfm_segments", "q174_rolling_revenue", "q175_kaplan_meier",
    "q176_burstiness", "q177_js_divergence", "q178_sorted_neighborhood",
    "q179_lift_table", "q180_lorenz_curve",
    "q181_zipf_fit", "q182_heaps_law", "q183_five_number",
    "q184_stickiness", "q185_new_returning", "q186_hapax_stats",
    "q187_sentence_stats", "q188_spearman", "q189_mann_kendall",
    "q190_acf", "q191_ks_test", "q192_fifo_allocation",
    "q193_silhouette", "q194_containment_pairs", "q195_abc_classes",
    "q196_runs_test", "q197_hill_tail", "q198_embed_covariance",
    "q199_label_propagation", "q200_unpivot", "q201_char_trigrams",
    "q202_max_concurrency", "q203_bfs_hops", "q204_bootstrap_ci",
    "q205_golden_record", "q206_woe_encoding", "q207_source_centroid_sim",
    "q208_rrf_hybrid", "q209_theil_sen", "q210_temporal_cooccur",
    "q211_embed_profile", "q212_ndcg_eval", "q213_kmv_union",
    "q214_binned_median", "q215_reshard_audit", "q216_sample_quantile",
    "q217_attribution_models", "q218_retention_fit", "q219_overdispersion",
    "q220_dedup_agreement", "q221_embed_medians", "q222_engagement_revenue",
    "q223_forecast_backtest", "q224_welch_pairs", "q225_discount_elasticity",
    "q226_streak_histogram", "q227_minhash_calibration", "q228_price_index",
    "q229_source_lexical_sim", "q230_lsh_recall",
    "q231_jaccard_histogram", "q232_quality_dup_rate", "q233_temporal_pmi",
    "q234_bm25_topk", "q235_postings_histogram", "q236_shard_balance",
    "q237_serve_from_index",
    "q238_filter_funnel", "q239_expectations", "q240_power_iteration",
    "q241_rbo_rankings", "q242_mix_temperature",
    "q243_ngram_novelty", "q244_padding_efficiency",
    "q245_coverage_curve", "q246_lang_mismatch",
    "q247_phrase_from_index", "q248_min_window",
    "q249_tombstone_compaction", "q250_kmv_setops",
    "q251_holt_backtest", "q252_next_purchase",
    "q253_token_fertility", "q254_hits", "q255_embed_decontaminate",
    "q256_quality_survivorship", "q257_feature_hash", "q258_dp_counts",
    "q260_cohort_ltv", "q261_seq_perplexity", "q262_forget_audit",
    "q263_bpe_learn", "q264_bpe_compression", "q265_cumulative_uniques",
    "q266_markov_attribution",
    "q268_degree_histogram", "q269_quantile_normalize",
    "q270_stl_decompose", "q271_weighted_median",
    "q272_modality_disagreement", "q273_incremental_join",
    "q274_table_checksums", "q275_kcore", "q276_power_analysis",
    "q277_autocomplete", "q278_open_order_aging", "q279_stylometry",
    "q280_multimodal_knn", "q281_price_volume_mix",
    "q282_l_diversity", "q283_jackknife_ratio",
    // round 9: batched BPE, bipartite graph family, serving composition
    // (the streaming-harness gates q285-q287 are exercised by
    // Round9Spec's bit-equality instead — their cost is the feed, not
    // the partitioning)
    "q288_bpe_learn_batched", "q289_personalized_pagerank",
    "q290_covisitation", "q291_clustering_coefficient",
    "q292_retrieve_rerank",
    // round 10: 1-bit ANN, SALSA, the Holt-Winters batch fold (the
    // streaming twins q304/q305 are harness gates, driver-hash-pinned)
    "q301_binary_quant_ann", "q302_salsa", "q303_holt_winters",
    "q306_bq_recall", "q311_mmr_rerank", "q312_adamic_adar",
    "q318_phash_near_dup",
    // round 10 continued: the stupid-backoff LM's quantized-NLL sums
    // must be partition-order invariant across all five model joins;
    // the weighted-SSSP frontier rounds must converge to the same
    // distances whatever the relax-join's partitioning
    "q319_backoff_lm", "q320_weighted_sssp",
    // truss peel: exact integer supports, census aggregates
    "q321_ktruss",
    // Kneser-Ney: quantized-NLL sums across three model joins;
    // DSIR: quantized bucket log-ratios then exact integer dot product
    "q322_kneser_ney_lm", "q323_importance_resampling",
    // matching handshake: min-id proposals over neighbor sets
    "q324_greedy_matching",
    // t-closeness: exact decimal EMD terms; Rocchio: quantized
    // per-(doc,term) scores then exact integer doc sums
    "q325_t_closeness", "q326_rocchio_prf",
    // Luby MIS: min-id admission over neighbor sets
    "q327_mis",
    // facility-location coreset: exact integer gain sums + coverage
    "q328_coreset_select",
    // sequential patterns: integer position mins + support counts
    "q329_seq_patterns",
    // permuterm probe: exact string prefixes + integer dfs
    "q330_wildcard_search",
    // walk corpus: (md5, id) argmin transitions; negative sampling:
    // exact cumulative-weight interval arithmetic
    "q331_random_walks", "q332_negative_sampling",
    // round 11: the perplexity gate's quantized-NLL sums + exact ntile
    // must survive any partitioning of the five model joins and the
    // decile's range exchange; the substring extension's sorted
    // pairing + token-lcp must survive any partitioning of the anchor
    // groups
    "q333_perplexity_gate", "q334_exact_substrings",
    // SymSpell: exact string keys, bounded levenshtein, struct-min pick
    "q341_spell_correct",
    // round 12: the substring APPLY — the deterministic (doc, pos)
    // victim rule over q334's pair set, order-free cut-position sets
    "q344_substring_dedup_apply",
    // round 14: the BPE apply family (merge replay is a pure function
    // of the learned table; the learn loop's winner picks carry total
    // tie-breaks), the packing capstone's bucket windows, the span
    // grid's md5 offsets, the provenance pair agg, and the curriculum's
    // exact ntile + in-decile coin ordering
    "q360_bpe_apply", "q362_tokenizer_roundtrip", "q363_bpe_fertility",
    "q364_span_corruption", "q365_contamination_provenance",
    "q366_curriculum_order")

  test("query results are identical across shuffle-partition counts") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // sorted multisets, not sets: a set cannot see a lost or duplicated row
    def run(parts: String): Map[String, Seq[String]] = {
      // queries persist() intermediates; without clearing, the second run
      // would silently substitute the FIRST run's cached tables (same
      // canonical plan) instead of re-executing at the new partition
      // count — making the invariance assertion vacuous
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      Queries.map { q =>
        q -> SparkEntry.queries(q)(spark, sfDir).collect()
          .map(_.toString).sorted.toSeq
      }.toMap
    }
    try {
      val a = run("3")
      val b = run("13")
      Queries.foreach { q => assert(a(q) == b(q), s"$q differs across partition counts") }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("approx vocabulary lands within the configured error of the exact count") {
    val approx = ReferenceQueriesApproxHelper.approx(spark, sfDir)
    val exact = ReferenceQueriesApproxHelper.exact(spark, sfDir)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }
}

object ReferenceQueriesApproxHelper {
  import org.apache.spark.sql.SparkSession
  def approx(spark: SparkSession, dir: String): Long =
    graft.queries.ReferenceQueries.q7ApproxVocabulary(spark, dir)
      .collect().head.getLong(0)
  def exact(spark: SparkSession, dir: String): Long =
    graft.queries.ReferenceQueries.q2Vocabulary(spark, dir)
      .collect().head.getLong(0)
}
