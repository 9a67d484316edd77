"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (documents → clean → stopword-filter →
bigram top-5 → structured keywords: the reference's richest pipeline shape,
``src/reddit_consumer.py:139-155``, over the documents table).

``queries()`` — one entry per implemented operator from SURVEY.md §2 (+ §2.9
extensions). ``oracle_sql()`` — DuckDB twins generated from the SAME frozen
constants (see ``ingestion_scripts_spark/oracle.py``).

Conventions for cross-engine hash-stability:
- every computed column aliased identically on both sides;
- floats rounded before output AND before any ranking;
- array sizes cast to bigint (DuckDB ``len`` is bigint);
- timestamps stringified (``yyyy-MM-dd HH:mm:ss[.SSSSSS]``) to dodge
  tz-encoding differences between engines.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ingestion_scripts_spark import oracle as O
from ingestion_scripts_spark.caching import persist_tracked
from ingestion_scripts_spark.functions import sentiment as S
from ingestion_scripts_spark.functions import text as X
from ingestion_scripts_spark.functions import timefns as TF
from ingestion_scripts_spark.operators import dedup as D
from ingestion_scripts_spark.operators import keywords as K
from ingestion_scripts_spark.operators import similarity as SIM
from ingestion_scripts_spark.operators import text_analysis as TA

from ingestion_scripts_spark.registry.part14 import *  # noqa: E402,F401,F403


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship_doc_keywords(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_REGISTRY: list[tuple[str, Callable[[SparkSession, str], DataFrame], str | None]] = [
    # DECLARATION order (stable; roughly r5's layout). The driver-facing
    # order is _driver_order's, after this list: the driver checks its
    # positions 1-50.
    ("textrank_summary", q_textrank_summary, _sql_textrank_summary()),
    ("sql_pipe_front_door", q_sql_pipe_front_door, SQL_PIPE_FRONT_DOOR),
    ("stream_state_reader", q_stream_state_reader, SQL_STREAM_DEDUP),
    ("edit_distance_names", q_edit_distance_names, SQL_EDIT_DISTANCE_NAMES),
    ("basket_pair_lift", q_basket_pair_lift, SQL_BASKET_PAIR_LIFT),
    ("triangle_cooccurrence", q_triangle_cooccurrence, SQL_TRIANGLE_COOCCURRENCE),
    ("token_kl_drift", q_token_kl_drift, SQL_TOKEN_KL_DRIFT),
    ("leakage_safe_split", q_leakage_safe_split, _sql_leakage_safe_split()),
    ("hybrid_rank_fusion", q_hybrid_rank_fusion, _sql_hybrid_rank_fusion()),
    ("output_file_plan", q_output_file_plan, SQL_OUTPUT_FILE_PLAN),
    ("mmr_diverse_topk", q_mmr_diverse_topk, _sql_mmr_diverse_topk()),
    ("k_anonymity_audit", q_k_anonymity_audit, SQL_K_ANONYMITY),
    ("jl_projection_recall", q_jl_projection_recall, _sql_jl_projection_recall()),
    ("holt_trend_forecast", q_holt_trend_forecast, _sql_holt_trend_forecast()),
    ("covariance_matrix", q_covariance_matrix, _sql_covariance_matrix()),
    ("dup_clusters_star", q_dup_clusters_star, SQL_DUP_CLUSTERS),
    ("containment_pairs", q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    ("stream_scd_merge", q_stream_scd_merge, SQL_STREAM_SCD_MERGE),
    ("recursive_front_door", q_recursive_front_door, SQL_RECURSIVE_PORTABLE),
    ("duplicate_spans", q_duplicate_spans, SQL_DUPLICATE_SPANS),
    ("span_removal_plan", q_span_removal_plan, SQL_SPAN_REMOVAL_PLAN),
    ("pareto_frontier", q_pareto_frontier, SQL_PARETO_FRONTIER),
    ("ks_drift", q_ks_drift, SQL_KS_DRIFT),
    ("column_mutual_info", q_column_mutual_info, SQL_COLUMN_MUTUAL_INFO),
    ("incremental_agg_view", q_incremental_agg_view, SQL_INCREMENTAL_AGG_VIEW),
    ("snm_blocking", q_snm_blocking, SQL_SNM_BLOCKING),
    ("cusum_changepoint", q_cusum_changepoint, SQL_CUSUM_CHANGEPOINT),
    ("ht_sampling_error", q_ht_sampling_error, SQL_HT_SAMPLING_ERROR),
    ("stream_quota_admission", q_stream_quota_admission, SQL_STREAM_QUOTA),
    ("er_canonical_entities", q_er_canonical_entities, SQL_ER_CANONICAL),
    ("bfs_hops_coorder", q_bfs_hops_coorder, SQL_BFS_HOPS),
    ("psi_drift", q_psi_drift, SQL_PSI_DRIFT),
    ("chi2_independence", q_chi2_independence, SQL_CHI2_INDEPENDENCE),
    ("multimodal_audio_energy", q_multimodal_audio_energy, SQL_MULTIMODAL_AUDIO),
    ("bloom_dedup_audit", q_bloom_dedup_audit, SQL_BLOOM_DEDUP_AUDIT),
    ("label_spread_communities", q_label_spread_communities, SQL_LABEL_SPREAD),
    ("join_size_estimate", q_join_size_estimate, SQL_JOIN_SIZE_ESTIMATE),
    ("grouped_agg_udaf", q_grouped_agg_udaf, SQL_GROUPED_AGG_UDAF),
    ("arrow_group_stats", q_arrow_group_stats, SQL_ARROW_GROUP_STATS),
    ("roc_auc_quality", q_roc_auc_quality, SQL_ROC_AUC_QUALITY),
    ("bot_burst_users", q_bot_burst_users, SQL_BOT_BURST_USERS),
    ("index_compaction", q_index_compaction, SQL_INDEX_COMPACTION),
    ("temperature_mix", q_temperature_mix, SQL_TEMPERATURE_MIX),
    ("csv_source", q_csv_source, SQL_CSV_SOURCE),
    ("corrupt_record_routing", q_corrupt_record_routing, SQL_CORRUPT_ROUTING),
    ("hll_merge_rollup", q_hll_merge_rollup, _sql_hll_merge_rollup()),
    ("grouping_sets_revenue", q_grouping_sets_revenue, SQL_GROUPING_SETS),
    ("window_dist_funcs", q_window_dist_funcs, SQL_WINDOW_DIST),
    ("lang_histograms", q_lang_histograms, SQL_LANG_HIST),
    ("stats_corr", q_stats_corr, SQL_STATS_CORR),
    # --- queued for the r6 window: remaining never-driver-green (40) ---
    ("semdedup", q_semdedup, _sql_semdedup()),
    ("cms_heavy_hitters", q_cms_heavy_hitters, _sql_cms_heavy_hitters()),
    ("doc_chunks", q_doc_chunks, _SQL_DOC_CHUNKS.format(toks=O.sql_tokenize_ws("text"))),
    ("gopher_rules", q_gopher_rules, _sql_gopher_rules()),
    ("priority_sample", q_priority_sample, _sql_priority_sample()),
    ("domain_caps", q_domain_caps, _sql_domain_caps()),
    ("orc_source", q_orc_source, SQL_ORC_SOURCE),
    ("unigram_ppl", q_unigram_ppl, _sql_unigram_ppl()),
    ("bpe_merges", q_bpe_merges, _sql_bpe_merges()),
    ("bpe_tokenize", q_bpe_tokenize, _sql_bpe_tokenize()),
    ("ivf_trained_topk", q_ivf_trained_topk, _sql_ivf_trained()),
    ("hist_quantiles", q_hist_quantiles, _sql_hist_quantiles()),
    ("dataset_split", q_dataset_split, _sql_dataset_split()),
    ("char_entropy", q_char_entropy, SQL_CHAR_ENTROPY),
    ("min_price_supplier", q_min_price_supplier, SQL_MIN_PRICE_SUPPLIER),
    ("column_profile", q_column_profile, _sql_column_profile()),
    ("bigram_backoff_ppl", q_bigram_backoff_ppl, _sql_bigram_backoff()),
    ("ann_recall", q_ann_recall, _sql_ann_recall()),
    ("zorder_layout", q_zorder_layout, _sql_zorder_layout()),
    ("observed_ingest", q_observed_ingest, SQL_OBSERVED_INGEST),
    ("skew_report", q_skew_report, SQL_SKEW_REPORT),
    ("dataset_card", q_dataset_card, _sql_dataset_card()),
    ("session_funnel", q_session_funnel, SQL_SESSION_FUNNEL),
    ("langid_confusion", q_langid_confusion, _sql_langid_confusion()),
    ("cross_split_contamination", q_cross_split_contamination, _sql_cross_split_contamination()),
    ("first_touch_attribution", q_first_touch_attribution, SQL_FIRST_TOUCH),
    ("partitioned_sink", q_partitioned_sink, SQL_PARTITIONED_SINK),
    ("dedup_best_survivor", q_dedup_best_survivor, SQL_BEST_SURVIVOR),
    ("boilerplate_segments", q_boilerplate_segments, SQL_BOILERPLATE),
    ("daily_gapfill", q_daily_gapfill, SQL_DAILY_GAPFILL),
    ("interval_join_hot_hours", q_interval_join_hot_hours, SQL_INTERVAL_JOIN),
    ("bucketed_join_revenue", q_bucketed_join_revenue, SQL_BUCKETED_JOIN),
    ("winsorized_lengths", q_winsorized_lengths, SQL_WINSORIZED),
    ("snapshot_diff", q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    ("weekly_growth", q_weekly_growth, SQL_WEEKLY_GROWTH),
    ("top_customer_by_nation", q_top_customer_by_nation, SQL_TOP_CUSTOMER),
    ("custom_feed_source", q_custom_feed_source, _sql_custom_feed()),
    ("stream_custom_source", q_stream_custom_source, _sql_stream_custom_feed()),
    ("dq_checks", q_dq_checks, SQL_DQ_CHECKS),
    ("sessionize_udtf", q_sessionize_udtf, SQL_SESSIONIZE),
    # --- added in r5 (never-green; window r6 per rotation rule) ---
    ("fellegi_sunter_scores", q_fellegi_sunter_scores, SQL_FELLEGI_SUNTER),
    ("cohens_kappa", q_cohens_kappa, _sql_cohens_kappa()),
    ("calibration_bins", q_calibration_bins, _sql_calibration_bins()),
    ("hits_scores", q_hits_scores, _sql_hits_scores()),
    ("kneser_ney_ppl", q_kneser_ney_ppl, _sql_kneser_ney_ppl()),
    ("dp_count_laplace", q_dp_count_laplace, _sql_dp_count_laplace()),
    ("rate_limit_replay", q_rate_limit_replay, RL_SQL_TOKEN_BUCKET),
    ("stream_token_bucket", q_stream_token_bucket, RL_SQL_TOKEN_BUCKET),
    # --- driver-green in r1-r4 (re-certified on the r6+ round-robin) ---
    ("variant_props", q_variant_props, SQL_VARIANT_PROPS),
    ("unpivot_part_metrics", q_unpivot_part_metrics, SQL_UNPIVOT_PART),
    ("event_transitions", q_event_transitions, SQL_EVENT_TRANSITIONS),
    ("safe_cast_ingest", q_safe_cast_ingest, SQL_SAFE_CAST),
    ("url_canonicalize", q_url_canonicalize, SQL_URL_CANON),
    ("ewma_user_value", q_ewma_user_value, SQL_EWMA),
    ("strip_accents_norm", q_strip_accents_norm, SQL_STRIP_ACCENTS),
    ("spearman_corr", q_spearman_corr, SQL_SPEARMAN),
    ("robust_zscore", q_robust_zscore, SQL_ROBUST_ZSCORE),
    ("hash_sample_per_key", q_hash_sample_per_key, SQL_HASH_SAMPLE),
    ("cube_revenue", q_cube_revenue, SQL_CUBE_REVENUE),
    ("setsim_join_pairs", q_setsim_join_pairs, SQL_SETSIM_JOIN),
    ("interval_join_bucketed", q_interval_join_bucketed, SQL_INTERVAL_JOIN),
    ("sparse_cosine_pairs", q_sparse_cosine_pairs, SQL_SPARSE_COSINE),
    ("sliding_windows", q_sliding_windows, SQL_SLIDING_WINDOWS),
    ("xml_source", q_xml_source, SQL_XML_SOURCE),
    ("supplier_wait_fault", q_supplier_wait_fault, SQL_SUPPLIER_WAIT),
    ("user_trend_slope", q_user_trend_slope, SQL_TREND_SLOPE),
    ("custom_feed_sink", q_custom_feed_sink, SQL_CUSTOM_FEED_SINK),
    ("set_ops_users", q_set_ops_users, SQL_SET_OPS),
    ("lateral_top_orders", q_lateral_top_orders, SQL_LATERAL_TOP),
    ("scd_point_in_time", q_scd_point_in_time, SQL_SCD_PIT),
    ("wap_publish", q_wap_publish, SQL_WAP_PUBLISH),
    ("score_quantile_norm", q_score_quantile_norm, SQL_QUANTILE_NORM),
    ("trigram_udtf_top", q_trigram_udtf_top, SQL_TRIGRAM_UDTF),
    ("schema_evolution", q_schema_evolution, SQL_SCHEMA_EVOLUTION),
    ("benford_profile", q_benford_profile, SQL_BENFORD),
    ("bm25_topk", q_bm25_topk, SQL_BM25_TOPK),
    ("phrase_search", q_phrase_search, SQL_PHRASE_SEARCH),
    ("token_budget_mix", q_token_budget_mix, SQL_TOKEN_BUDGET_MIX),
    ("pagerank_transitions", q_pagerank_transitions, SQL_PAGERANK),
    ("dedup_threshold_curve", q_dedup_threshold_curve, SQL_DEDUP_THRESHOLD_CURVE),
    ("incremental_near_dup", q_incremental_near_dup, SQL_INCREMENTAL_NEAR_DUP),
    ("embedding_profile", q_embedding_profile, SQL_EMBEDDING_PROFILE),
    ("dup_cluster_stats", q_dup_cluster_stats, SQL_DUP_CLUSTER_STATS),
    ("source_similarity", q_source_similarity, SQL_SOURCE_SIMILARITY),
    ("dedup_recall", q_dedup_recall, SQL_DEDUP_RECALL),
    ("stream_incremental_dedup", q_stream_incremental_dedup, SQL_STREAM_INCREMENTAL_DEDUP),
    ("tokenizer_fertility", q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    ("stratified_split", q_stratified_split, SQL_STRATIFIED_SPLIT),
    ("heavy_hitter_recall", q_heavy_hitter_recall, _sql_heavy_hitter_recall()),
    ("path_motifs", q_path_motifs, SQL_PATH_MOTIFS),
    ("sql_front_door", q_sql_front_door, SQL_PORTABLE),
    ("linear_interpolation", q_linear_interpolation, SQL_LINEAR_INTERPOLATION),
    ("bloom_join_revenue", q_bloom_join_revenue, SQL_BLOOM_JOIN),
    ("multimodal_resize", q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    ("last_touch_attribution", q_last_touch_attribution, SQL_LAST_TOUCH),
    ("embedding_outliers", q_embedding_outliers, SQL_EMBEDDING_OUTLIERS),
    ("ngram_novelty", q_ngram_novelty, SQL_NGRAM_NOVELTY),
    ("rfm_segments", q_rfm_segments, SQL_RFM_SEGMENTS),
    ("rss_pipeline", q_rss_pipeline, SQL_RSS_PIPELINE),
    ("reddit_pipeline", q_reddit_pipeline, SQL_REDDIT_PIPELINE),
    ("twitter_pipeline", q_twitter_pipeline, SQL_TWITTER_PIPELINE),
    ("sentiment", q_sentiment, SQL_SENTIMENT),
    ("sessionize", q_sessionize, SQL_SESSIONIZE),
    ("session_window_native", q_session_window_native, SQL_SESSION_WINDOW),
    ("session_window_dynamic", q_session_window_dynamic, SQL_SESSION_DYNAMIC),
    ("multimodal_meta", q_multimodal_meta, SQL_MULTIMODAL),
    ("multimodal_features", q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    ("multimodal_frames", q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    ("stream_idempotent_sink", q_stream_idempotent_sink, SQL_STREAM_IDEMPOTENT),
    ("stream_stateful_counts", q_stream_stateful_counts, SQL_STREAM_STATEFUL),
    ("stream_dedup_counts", q_stream_dedup_counts, SQL_STREAM_DEDUP),
    ("stream_enriched_counts", q_stream_enriched_counts, SQL_STREAM_ENRICHED),
    ("stream_late_drop", q_stream_late_drop, SQL_STREAM_LATE_DROP),
    ("stream_stream_join", q_stream_stream_join, SQL_STREAM_STREAM_JOIN),
    ("stream_outer_join", q_stream_outer_join, SQL_STREAM_OUTER_JOIN),
    ("stream_wm_dedup", q_stream_wm_dedup, SQL_STREAM_IDEMPOTENT),
    ("stream_fanout_sinks", q_stream_fanout_sinks, SQL_STREAM_FANOUT),
    ("bloom_gate", q_bloom_gate, _sql_bloom_gate()),
    ("curation_pipeline", q_curation_pipeline, SQL_CURATION),
    ("curation_to_sequences", q_curation_to_sequences, SQL_CURATION_SEQ),
    ("props_extract", q_props_extract, SQL_PROPS_EXTRACT),
    ("idle_rich_customers", q_idle_rich_customers, SQL_IDLE_RICH),
    ("cumulative_users", q_cumulative_users, SQL_CUMULATIVE_USERS),
    ("rolling_7d_value", q_rolling_7d_value, SQL_ROLLING_7D),
    ("incremental_ingest", q_incremental_ingest, SQL_INCREMENTAL_INGEST),
    ("tfidf_top_terms", q_tfidf_top_terms, SQL_TFIDF),
    ("dup_clusters", q_dup_clusters, SQL_DUP_CLUSTERS),
    ("hll_distinct_users", q_hll_distinct_users, _sql_hll()),
    ("repetition_signals", q_repetition_signals, SQL_REPETITION),
    ("pii_scrub", q_pii_scrub, SQL_PII_SCRUB),
    ("contamination", q_contamination, SQL_CONTAMINATION),
    ("stratified_sample", q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    ("simhash_near_dups", q_simhash_near_dups, _sql_simhash_pairs()),
    ("sequence_packing", q_sequence_packing, SQL_SEQUENCE_PACKING),
    ("kmeans_clusters", q_kmeans_clusters, _sql_kmeans_clusters()),
    ("kmeans_sample", q_kmeans_sample, _sql_kmeans_sample()),
    ("importance_weights", q_importance_weights, SQL_IMPORTANCE),
    ("pmi_bigrams", q_pmi_bigrams, SQL_PMI),
    ("nation_profit", q_nation_profit, SQL_NATION_PROFIT),
    ("scd_upsert", q_scd_upsert, SQL_SCD_UPSERT),
    ("dup_span_fraction", q_dup_span_fraction, SQL_DUP_SPAN),
    ("jsonl_source", q_jsonl_source, SQL_JSONL_SOURCE),
    ("anomaly_zscore", q_anomaly_zscore, SQL_ANOMALY),
    ("retention_cohorts", q_retention_cohorts, SQL_RETENTION),
    ("flagship_doc_keywords", q_flagship_doc_keywords, SQL_FLAGSHIP),
    ("pricing_summary", q_pricing_summary, SQL_PRICING),
    ("minhash_near_dups", q_minhash_near_dups, SQL_MINHASH),
    ("embedding_near_dup", q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    ("top_orders", q_top_orders, SQL_TOP_ORDERS),
    ("region_revenue", q_region_revenue, SQL_REGION_REVENUE),
    ("antijoin_new_users", q_antijoin_new_users, SQL_ANTIJOIN),
    ("dead_letter_routing", q_dead_letter_routing, SQL_DEAD_LETTER),
    ("semi_join_urgent", q_semi_join_urgent, SQL_SEMI_JOIN),
    ("cust_order_dist", q_cust_order_dist, SQL_CUST_ORDER_DIST),
    ("rollup_revenue", q_rollup_revenue, SQL_ROLLUP),
    ("distinct_users", q_distinct_users, SQL_DISTINCT_USERS),
    ("asof_clicks", q_asof_clicks, SQL_ASOF),
    ("purchase_error_funnel", q_purchase_error_funnel, SQL_FUNNEL),
    ("small_quantity_revenue", q_small_quantity_revenue, SQL_SMALL_QTY),
    ("in_subquery_parts", q_in_subquery_parts, SQL_IN_SUBQUERY),
    ("value_percentiles", q_value_percentiles, SQL_PERCENTILES),
    ("pivot_weekday", q_pivot_weekday, SQL_PIVOT),
    ("running_user_value", q_running_user_value, SQL_RUNNING),
    ("clicked_never_purchased", q_clicked_never_purchased, SQL_EXCEPT),
    ("late_ship_priority", q_late_ship_priority, SQL_LATE_SHIP),
    ("parts_never_discounted", q_parts_never_discounted, SQL_PARTS_NEVER_DISC),
    ("user_value_quartiles", q_user_value_quartiles, SQL_USER_QUARTILES),
    ("clean_text", q_clean_text, SQL_CLEAN),
    ("hashtags", q_hashtags, SQL_HASHTAGS),
    ("stopword_filter", q_stopword_filter, SQL_STOPWORD),
    ("bigram_pairs", q_bigram_pairs, SQL_BIGRAM_PAIRS),
    ("parse_rfc822", q_parse_rfc822, SQL_PARSE_RFC822),
    ("parse_struct_time", q_parse_struct_time, SQL_PARSE_STRUCT_TIME),
    ("parse_simple", q_parse_simple, SQL_PARSE_SIMPLE),
    ("parse_zoned", q_parse_zoned, SQL_PARSE_ZONED),
    ("exact_dedup", q_exact_dedup, SQL_EXACT_DEDUP),
    ("segment_dedup", q_segment_dedup, SQL_SEGMENT_DEDUP),
    ("ngram_jaccard", q_ngram_jaccard, SQL_NGRAM_JACCARD),
    ("simhash", q_simhash, SQL_SIMHASH),
    ("fingerprint", q_fingerprint, SQL_FINGERPRINT),
    ("winnow_fingerprints", q_winnow_fingerprints, SQL_WINNOW),
    ("salted_distinct_users", q_salted_distinct_users, SQL_SALTED_DISTINCT),
    ("skew_join_revenue", q_skew_join_revenue, SQL_SKEW_JOIN),
    ("embedding_topk", q_embedding_topk, SQL_EMBEDDING_TOPK),
    ("lsh_ann_topk", q_lsh_ann_topk, _sql_lsh_ann()),
    ("ivf_ann_topk", q_ivf_ann_topk, _sql_ivf_ann()),
    ("ivf_ann_topk_mp", q_ivf_ann_topk_mp, _sql_ivf_ann_mp()),
    ("embedding_near_dup_fold", q_embedding_near_dup_fold, SQL_EMBEDDING_NEAR_DUP),
    ("lang_id", q_lang_id, SQL_LANG_ID),
    ("quality_score", q_quality, SQL_QUALITY),
    ("quality_gate", q_quality_gate, SQL_QUALITY_GATE),
    ("vocab_topn", q_vocab_topn, SQL_VOCAB),
    ("token_counts", q_token_counts, SQL_TOKEN_COUNTS),
    ("hourly_windows", q_hourly_windows, SQL_HOURLY),
    ("stream_hourly_windows", q_stream_hourly_windows, SQL_STREAM_HOURLY),
    ("stream_sessionize", q_stream_sessionize, SQL_STREAM_SESSIONIZE),
    # --- r6 batch 2 additions ---
    ("kcore_parts", q_kcore_parts, _sql_kcore_parts()),
    ("kcenter_coreset", q_kcenter_coreset, _sql_kcenter_coreset()),
    ("avg_precision_quality", q_avg_precision_quality, SQL_AVG_PRECISION_QUALITY),
    ("sq8_recall", q_sq8_recall, SQL_SQ8_RECALL),
    ("ndcg_quality", q_ndcg_quality, _sql_ndcg_quality()),
    ("zipf_slope", q_zipf_slope, _sql_zipf_slope()),
    ("max_coverage", q_max_coverage, _sql_max_coverage()),
    ("source_unique_vocab", q_source_unique_vocab, _sql_source_unique_vocab()),
    ("ppr_coorder", q_ppr_coorder, _sql_ppr_coorder()),
    ("dedup_funnel", q_dedup_funnel, _sql_dedup_funnel()),
    ("pq_recall", q_pq_recall, _sql_pq_recall()),
    ("conformal_gate", q_conformal_gate, SQL_CONFORMAL_GATE),
    ("isotonic_calibration", q_isotonic_calibration, _sql_isotonic_calibration()),
    ("theil_sen_trend", q_theil_sen_trend, SQL_THEIL_SEN),
    # --- r7 additions ---
    ("kmv_distinct", q_kmv_distinct, _sql_kmv_distinct()),
    ("wasserstein_drift", q_wasserstein_drift, SQL_WASSERSTEIN_DRIFT),
    ("kendall_tau_daily", q_kendall_tau_daily, SQL_KENDALL_TAU),
    ("mrr_quality", q_mrr_quality, SQL_MRR_QUALITY),
    ("link_prediction", q_link_prediction, SQL_LINK_PREDICTION),
    ("acf_daily", q_acf_daily, SQL_ACF_DAILY),
    ("l_diversity", q_l_diversity, SQL_L_DIVERSITY),
    ("ahash_image_neardup", q_ahash_image_neardup, SQL_AHASH_NEARDUP),
    ("seasonal_revenue", q_seasonal_revenue, SQL_SEASONAL_REVENUE),
    ("community_modularity", q_community_modularity, SQL_COMMUNITY_MODULARITY),
    ("loo_quality_delta", q_loo_quality_delta, SQL_LOO_QUALITY),
    ("fano_burstiness", q_fano_burstiness, SQL_FANO_BURSTINESS),
    ("kmv_set_overlap", q_kmv_click_purchase_overlap, _sql_kmv_click_purchase()),
    ("brier_score", q_brier_score, _sql_brier_score()),
    ("pinball_loss_sources", q_pinball_loss_sources, SQL_PINBALL_SOURCES),
    ("hard_negatives", q_hard_negatives, SQL_HARD_NEGATIVES),
    ("novelty_decay", q_novelty_decay, SQL_NOVELTY_DECAY),
    ("gini_concentration", q_gini_concentration, SQL_GINI),
    ("negative_sampling_table", q_negative_sampling_table, _sql_negative_sampling()),
    ("stream_kmv_distinct", q_stream_kmv_distinct, _sql_stream_kmv()),
    ("rbo_vocab_stability", q_rbo_vocab_stability, _sql_rbo_vocab()),
    ("decile_lift", q_decile_lift, _sql_decile_lift()),
    ("entropy_rate_transitions", q_entropy_rate_transitions, SQL_ENTROPY_RATE),
    # r9 additions (registry part09)
    ("exact_global_quantiles", q_exact_global_quantiles,
     SQL_EXACT_GLOBAL_QUANTILES),
    ("mann_kendall_daily", q_mann_kendall_daily, SQL_MANN_KENDALL_DAILY),
    ("degree_assortativity", q_degree_assortativity, SQL_DEGREE_ASSORTATIVITY),
    ("fd_strength", q_fd_strength, SQL_FD_STRENGTH),
    ("top_share_curve", q_top_share_curve, SQL_TOP_SHARE_CURVE),
    ("weighted_median_parts", q_weighted_median_parts,
     SQL_WEIGHTED_MEDIAN_PARTS),
    ("market_concentration", q_market_concentration,
     SQL_MARKET_CONCENTRATION),
    ("forecast_mase", q_forecast_mase, SQL_FORECAST_MASE),
    ("sample_apportionment", q_sample_apportionment,
     SQL_SAMPLE_APPORTIONMENT),
    ("vocab_richness", q_vocab_richness, _sql_vocab_richness()),
    # --- r10 additions (registry/part10.py) ---
    ("gini_order_values", q_gini_order_values, SQL_GINI_ORDER_VALUES),
    ("trimmed_price_mean", q_trimmed_price_mean, SQL_TRIMMED_PRICE_MEAN),
    ("bootstrap_order_value_ci", q_bootstrap_order_value_ci,
     _sql_bootstrap_order_value_ci()),
    ("shuffle_mix_audit", q_shuffle_mix_audit, _sql_shuffle_mix_audit()),
    ("coorder_transitivity", q_coorder_transitivity,
     SQL_COORDER_TRANSITIVITY),
    ("mad_order_values", q_mad_order_values, SQL_MAD_ORDER_VALUES),
    # --- r11 additions (registry/part11.py) ---
    ("longest_dup_span", q_longest_dup_span, SQL_LONGEST_DUP_SPAN),
    ("domain_dedup_stats", q_domain_dedup_stats, SQL_DOMAIN_DEDUP_STATS),
    ("incremental_value_stats", q_incremental_value_stats,
     SQL_INCREMENTAL_VALUE_STATS),
    # --- r12 additions (registry/part12.py) ---
    ("snapshot_dedup_delta", q_snapshot_dedup_delta, SQL_SNAPSHOT_DEDUP_DELTA),
    ("span_removal_apply", q_span_removal_apply, SQL_SPAN_REMOVAL_APPLY),
    ("calibration_drift", q_calibration_drift, SQL_CALIBRATION_DRIFT),
    # --- r13 additions (registry/part13.py) ---
    ("snapshot_band_roll", q_snapshot_band_roll, SQL_SNAPSHOT_BAND_ROLL),
    ("band_skew_audit", q_band_skew_audit, SQL_BAND_SKEW_AUDIT),
    ("stream_snapshot_roll", q_stream_snapshot_roll, SQL_STREAM_SNAPSHOT_ROLL),
    ("cdc_chunk_dedup", q_cdc_chunk_dedup, SQL_CDC_CHUNK_DEDUP),
    # --- r14 additions (registry/part14.py) ---
    ("capped_band_roll", q_capped_band_roll, SQL_CAPPED_BAND_ROLL),
    ("capped_roll_audit", q_capped_roll_audit, SQL_CAPPED_ROLL_AUDIT),
    ("chunk_store_roll", q_chunk_store_roll, SQL_CHUNK_STORE_ROLL),
    ("cdc_clamped_dedup", q_cdc_clamped_dedup, SQL_CDC_CLAMPED_DEDUP),
    ("hot_bucket_sweep", q_hot_bucket_sweep, SQL_HOT_BUCKET_SWEEP),
    ("capped_sweep_recall", q_capped_sweep_recall, SQL_CAPPED_SWEEP_RECALL),
    ("ivf_postings_roll", q_ivf_postings_roll, _sql_ivf_postings_roll()),
    ("ivf_roll_serve", q_ivf_roll_serve, _sql_ivf_roll_serve()),
    ("stream_ivf_roll", q_stream_ivf_roll, _sql_stream_ivf_roll()),
]

# --- driver-window rotation ------------------------------------------------
# The driver certifies positions 1-50 each round. The order is derived at
# import from the committed CORRECTNESS_r*.json artifacts, never pinned by
# hand (a pin stalled the rotation once): queries with no driver-green
# record come first, in declaration order; then every green query by
# (latest green round, declaration index), so the 50 with the oldest
# driver evidence fill the rest of the window.


def _driver_order(registry):
    green: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0])
        with open(path) as fh:
            for name, rec in json.load(fh).items():
                if rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match"):
                    green[name] = max(green.get(name, 0), rnd)
    # stable sort: ties keep declaration order
    return sorted(registry, key=lambda t: (t[0] in green, green.get(t[0], 0)))


_REGISTRY = _driver_order(_REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _REGISTRY if sql is not None}
