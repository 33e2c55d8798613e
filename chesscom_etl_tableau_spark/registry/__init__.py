"""The query registry: every operator from SURVEY.md §2 (IDs S*/T*/J*/A*/W*/F*)
plus the LLM-data-pipeline operators, each one `Query` record (builder,
DuckDB oracle, family, eager, headline) declared once in its family
module. Chess-domain operators run on TPC-H-ish stand-ins per
FIXTURES.md §6; the chess-specific pipeline itself is covered by tests/
over synthetic archive fixtures.

Determinism rules used throughout (so value hashes match the oracle):
- money/quantity sums go through exact decimal casts, final cast to
  double (fp-order-independent);
- ratios are double divisions of exact integers/decimals, rounded to 6;
- every top-k has a total order (measure desc, key asc);
- int widths are aligned (DuckDB year()->BIGINT vs Spark INT, etc.).

Adding a query: write `@query(oracle=...)` on a `_q_<name>` builder in
its family module and put `<name>` into ORDER below.
"""

from __future__ import annotations

from chesscom_etl_tableau_spark.registry import (  # noqa: F401  (importing a family declares its queries)
    aggregates_windows,
    ann_embeddings,
    data_quality,
    dedup,
    filters_visuals,
    graph,
    ingest_surface,
    joins,
    multimodal,
    pricing_scan,
    sql_surface,
    streaming,
    text_analysis,
    training_pipeline,
    transforms,
)
from chesscom_etl_tableau_spark.registry.record import DECLARED, Query

# Driver order: the driver's correctness harness verifies the first 50
# entries each round, so the head of this tuple is what it checks next.
ORDER = (
    "pipeline_forget_ids", "stream_ann_enrich", "stream_corpus_decontam", "text_quality_model",
    "text_html_extract", "ann_range_search", "dedup_containment", "dedup_fuzzy_edit",
    "dq_observe", "dq_report", "dq_skew_report", "emb_hard_negatives", "graph_bfs",
    "graph_jaccard", "graph_kcore", "graph_label_prop", "graph_triangles",
    "i6_scd2_apply_changes", "j8_record_linkage", "mm_spectral_stats", "q11_important_stock",
    "q12_shipmode_priority", "q15_top_supplier", "q16_supplier_part_counts",
    "q20_excess_stock_suppliers", "q2_min_cost_supplier", "q6_forecast_revenue",
    "q6_sql_surface", "q8_market_share", "q9_product_profit", "s17_bloom_pruning",
    "s18_multi_table_txn", "s19_change_feed", "s20_incremental_agg", "s21_table_diff",
    "stream_dq_report", "stream_heavy_hitters", "stream_pattern_matches", "t15_scd2_dimension",
    "t16_gap_fill", "train_decontaminate", "train_mixture", "train_stratified",
    "w1_rolling_12d", "w3_session_stats", "w3_sessionize", "w4_running_total", "w6_pivot",
    "w7_sliding_windows", "a19_heavy_hitters", "ann_ivf_gen_probe", "stream_corpus_ingest_mm",
    "dedup_lsh_gen_probe", "ann_ivf_gen_delete", "emb_quantize", "f6_first_seen_wins",
    "i2_idempotent_reingest", "i3_open_month_refetch", "i5_incremental_equivalence",
    "mm_decode_features", "mm_frame_sample", "pipeline_corpus_build", "s10_bi_export_roundtrip",
    "s3_backoff_schedule", "s5_append_roundtrip", "s6_audit_game_counts",
    "s7_status_log_counts", "s9_state_roundtrip", "stream_dedup", "stream_interval_join",
    "stream_ohlc", "stream_scd2", "stream_sessionize", "stream_windowed_counts",
    "t11_eco_extract", "t4_result_fallback", "t6_csv_split", "t7_t8_derivations",
    "t9_bucket_case", "text_bm25_topk", "text_bpe_tokens", "text_fingerprint", "text_lang_id",
    "text_quality_filter", "text_redact_pii", "text_repetition", "text_tfidf_top5",
    "text_token_stats", "text_winnow", "train_chunks", "train_pack", "train_split",
    "w2_rollup_drill", "w5_cube", "a23_basket_lift", "a24_trend_slope", "a25_event_paths",
    "a26_share_of_total", "a27_cohort_ltv", "ann_mmr_rerank", "a20_hll_union_rollup",
    "a21_cms_heavy_hitters", "a22_attribution", "dedup_semantic", "dedup_spans",
    "dedup_substrings", "emb_whitening", "f10_dynamic_partition_pruning", "f9_topk_per_group",
    "graph_pagerank", "j10_asof_forward", "j7_overlap_join", "j9_asof_nearest",
    "mm_audio_resample", "mm_audio_stats", "mm_audio_vad", "mm_dhash_neardup",
    "mm_phash_neardup", "mm_resize_stats", "mm_vad_segments", "s11_manifest_roundtrip",
    "s12_time_travel", "s13_merge_roundtrip", "s14_stats_pruning",
    "s15_delete_vector_lifecycle", "s16_zorder_pruning", "s22_metadata_export",
    "t13_json_extract", "t14_zorder_key", "t17_unpivot", "text_bigram_surprisal",
    "text_boilerplate", "text_char_entropy", "text_hybrid_rrf", "text_kn_perplexity",
    "text_pmi_collocations", "text_surprisal", "train_bpe_merges", "train_bpe_tokenize",
    "train_corpus_drift", "train_dataset_card", "train_shard_pack", "train_temperature_mixture",
    "train_winsorize", "w11_session_window", "w12_ewma", "w13_period_growth", "w14_autocorr",
    "w15_mad_outliers", "a13_percentiles", "a1_sql_surface", "a28_pattern_cep", "a29_ab_test",
    "a30_cusum", "a6_ratio_by_group", "a8_count_by_key", "a8_salted_count", "ann_cosine_topk",
    "ann_ivf_append", "ann_ivf_kmeans", "ann_ivf_topk", "ann_ivfpq_append", "ann_recall_ivf",
    "ann_recall_pq", "corpus_source_overlap", "dedup_embed_cosine", "dedup_embed_lsh",
    "dedup_exact", "dedup_exact_keep", "dedup_incremental_exact", "dedup_incremental_near",
    "dedup_lsh_persist", "dedup_minhash_lsh", "dedup_substrings_apply", "mm_patch_stats",
    "q10_returned_items", "q13_order_distribution", "q14_promo_revenue",
    "q17_small_qty_revenue", "q18_large_orders", "q19_disjunctive_revenue",
    "q21_waiting_supplier", "q22_dormant_customers", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q7_volume_shipping", "stream_outer_join",
    "train_contamination", "train_curriculum", "train_dsir_weights", "train_interleave",
    "train_source_caps", "train_weighted_sample", "w10_lag_lead", "w16_resample_ohlc",
    "w17_interpolate", "w8_ntile_deciles", "w9_grouping_sets", "a14_approx_distinct",
    "a15_funnel", "a16_retention", "a17_zscore_anomalies", "a18_approx_percentiles",
    "a1_card_measures", "ann_ivf_compact", "ann_ivf_refit", "ann_ivfpq_refit", "ann_ivfpq_topk",
    "dedup_cluster_survivors", "dedup_components", "dedup_lsh_compact", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_substrings_fixpoint", "emb_knn_consistency", "emb_label_centroids",
    "emb_pq_error", "emb_psi_drift", "f1_in_slicer", "f2_between_dates", "f3_top10_by_count",
    "f4_top5_by_measure", "f5_order_limit", "f7_cross_filter", "f8_nonempty_filter",
    "j1_anti_join", "j2_set_diff", "j3_sql_surface", "j3_star_join", "j4_sql_surface",
    "j4_topn_semi", "j5_asof_join", "j6_range_join", "mm_audio_resample_arb",
    "q1_pricing_summary", "q1_sql_surface", "s4_key_scan", "stream_corpus_ingest",
    "stream_full_outer_join", "t10_width_bucket", "t12_date_dim", "t1_flatten_nested",
    "t2_epoch_date", "t3_regex_fallback", "text_pr_curve", "train_epoch_order",
    "train_interleave_mm", "train_kmv_sample",
)


def _in_order() -> tuple[Query, ...]:
    missing = [n for n in ORDER if n not in DECLARED]
    unordered = sorted(set(DECLARED) - set(ORDER))
    repeated = sorted({n for n in ORDER if ORDER.count(n) > 1})
    if missing or unordered or repeated:
        raise RuntimeError(
            f"registry ORDER and the declared queries differ: missing {missing}, "
            f"not in ORDER {unordered}, repeated {repeated}"
        )
    return tuple(DECLARED[n] for n in ORDER)


QUERIES = _in_order()
