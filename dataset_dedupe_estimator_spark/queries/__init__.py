"""Query registry: every operator from SURVEY.md §2 exposed as a
(spark_fn, oracle_sql) pair for the driver's correctness gate.

Each module contributes ``QUERIES: dict[str, Q]``; ``Q.spark`` is
``(SparkSession, sf_dir) -> DataFrame`` and ``Q.oracle`` is equivalent ANSI
SQL for DuckDB (None → rows-only check for non-SQL-expressible operators).
"""

from __future__ import annotations

from dataset_dedupe_estimator_spark.queries.base import Q

from dataset_dedupe_estimator_spark.queries import (  # noqa: E402
    advanced,
    core_cdc,
    corpus_dedup,
    corpus_quality,
    dedupe_text,
    events,
    maintenance,
    relational,
    similarity,
    splits,
    streaming_gate,
    synthetic_e2e,
    synthetic_sql,
    text_analysis,
    tpch_deep,
)

REGISTRY: dict[str, Q] = {}
for _mod in (relational, events, dedupe_text, text_analysis, similarity, synthetic_sql, synthetic_e2e, splits, streaming_gate, advanced, core_cdc, corpus_dedup, corpus_quality, tpch_deep, maintenance):
    overlap = REGISTRY.keys() & _mod.QUERIES.keys()
    if overlap:
        raise ValueError(f"duplicate query names: {overlap}")
    REGISTRY.update(_mod.QUERIES)

# The external driver's correctness gate records the FIRST 50 registry
# entries per round. Rotation scheme (also documented in COVERAGE.md):
# every round, _FRONT = (queries never driver-checked) + (queries whose
# last driver-side green is oldest), sized to exactly 50; _NEXT holds the
# overflow (first in line next round); _TAIL holds the most-recently
# driver-checked.  EVERY oracle-bearing query — front, next, and tail —
# is additionally re-verified locally every round by
# tools/check_oracles.py (dtype-faithful replica of the driver's gate),
# so rotation only affects which subset gets *driver-side* attestation,
# never whether a regression is caught.
#
# Round-15 window (the COVERAGE.md ledger row r15): the r14 _NEXT
# (q19_disjunctive_revenue ... zorder_layout, round-10-green) first, then
# the stalest tier, the round-11-green queries in registry order
# (temporal_dim_join ... mv_from_version_diff), then the 2 queries whose
# executed plan this round changed (the touched-query rule):
# format_compare_demo (one write per source, row counts taken inside the
# write, one group-keyed chunk pass) and cdc_dedup_trend (now routed
# through the exported chunk table, so it carries the DuckDB oracle).
# Arithmetic: 6 + 42 + 2 = 50. The 2 round-11-green queries the window
# could not hold head _NEXT; _TAIL = r12-green, then the r13-attested
# 49, then the r14-attested 50 minus the re-fronted cdc_dedup_trend
# (freshest last); _middle (computed) is empty this round.
#
# The touched-query rule deliberately overrides staleness: a query whose
# executed plan changed this round re-enters the window EVEN IF it was
# green in the most recent driver round (cdc_dedup_trend: r14-green AND
# r15-touched). _RETOUCHED names that set so the rotation-invariant test
# can tell a sanctioned re-entry from an accidental slot waste.
_RETOUCHED = {
    "format_compare_demo",
    "cdc_dedup_trend",
}
_FRONT = [
    "q19_disjunctive_revenue",
    "table_type_widening_read",
    "table_nested_read",
    "table_archive_read",
    "table_time_travel",
    "zorder_layout",
    "temporal_dim_join",
    "orders_rfm_segments",
    "basket_part_pairs",
    "cohort_ltv",
    "conditional_pivot_brands",
    "rolling_active_users",
    "events_late_arrivals",
    "bm25_index_search",
    "phrase_search_index",
    "bpe_train_merges",
    "bpe_token_stats",
    "doc_length_quantiles",
    "repetition_stats",
    "contamination_check",
    "corpus_survival_pipeline",
    "ann_recall_at_k",
    "hybrid_rrf",
    "synthetic_generator_e2e",
    "split_assign",
    "stratified_sample_docs",
    "cross_split_leakage",
    "split_purge_eval",
    "streaming_dedup_events",
    "streaming_view_click_join",
    "streaming_index_pipeline",
    "image_near_dup_demo",
    "multimodal_pipeline_demo",
    "fuzzy_match_customers",
    "data_quality_report",
    "profile_documents",
    "source_feature_corr",
    "date_part_revenue",
    "quantity_percentiles",
    "cdc_stats_oracle",
    "cdc_trend_oracle",
    "dataset_card_stats",
    "mv_incremental_orders",
    "table_deep_nested_read",
    "table_update_read",
    "table_dv_update_read",
    "table_zonemap_read",
    "mv_from_version_diff",
    "format_compare_demo",
    "cdc_dedup_trend",
]
# overflow: the round-11-green queries the 50-slot window could not
# hold — first in line for round 16 (locally re-verified every round)
_NEXT = [
    "streaming_mv_refresh",
    "snapshot_diff_docs",
]
# most recently driver-checked: the r12-attested 50 (CORRECTNESS_r12),
# the r13-attested 49 (CORRECTNESS_r13 minus ann_ivf_trained, re-fronted
# at r14) and the r14-attested 49 (CORRECTNESS_r14 minus cdc_dedup_trend)
# — freshest at the very back. format_compare_demo (r12) left for _FRONT.
_TAIL = [
    "events_user_lifecycle",
    "events_markov_transitions",
    "session_top_paths",
    "events_funnel_ttc",
    "events_funnel",
    "events_retention_cohorts",
    "events_sessionize",
    "dup_cluster_sizes",
    "simhash_candidates",
    "kmv_sketches",
    "cms_token_counts",
    "bm25_delete_search",
    "bpe_pair_frequencies",
    "vocab_coverage_score",
    "effective_token_budget",
    "source_token_stats",
    "pq_codes",
    "token_bpe_ish",
    "rolling_hash_fingerprint",
    "cdc_estimate",
    "cdc_per_file_chunks",
    "cdc_provenance",
    "cdc_estimate_xet",
    "cdc_approx_estimate",
    "cdc_index_incremental",
    "doc_chunk_windows",
    "pii_scan",
    "charlm_familiarity",
    "ngram_novelty",
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_parts",
    "q12_late_shipment_priority",
    "q16_supplier_diversity",
    "q20_dominant_suppliers",
    "q21_waiting_suppliers",
    "table_delete_where",
    "table_upsert_merge",
    "table_stream_read",
    "table_compact_read",
    "table_cdf_read",
    "table_bloom_read",
    "q1_pricing_summary",
    "q4_order_priority",
    "table_purge_read",
    "table_cdc_apply_read",
    "table_replicate_read",
    "cdc_upload_delta",
    "table_stream_sink_read",
    "q6_revenue_forecast",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top_spenders",
    "window_top_orders_per_customer",
    "window_running_spend",
    "rollup_order_status",
    "semi_anti_customers",
    "set_ops_parts",
    "events_hourly",
    "events_json_extract",
    "events_daily_users",
    "dedup_exact_groups",
    "ivfpq_search",
    "synthetic_delete_rows",
    "synthetic_insert_rows",
    "synthetic_update_rows",
    "synthetic_update_column",
    "synthetic_append_rows",
    "streaming_windowed_counts",
    "streaming_sessionize_events",
    "salted_agg_lineitem",
    "merge_upsert_orders",
    "dedup_keep_first_pruned",
    "dedup_spans",
    "mixture_sample",
    "sequence_pack",
    "quality_classifier",
    "source_drift_tvd",
    "unigram_surprisal",
    "tfidf_top_terms",
    "bloom_incremental_dedup",
    "q7_nation_volume",
    "q10_returned_items",
    "q13_order_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "q22_idle_customers",
    "table_checkpoint_read",
    "table_restore_read",
    "table_dv_delete_read",
    "table_concurrent_append_read",
    "table_rename_read",
    "table_drop_read",
    "table_clone_read",
    "cdc_streaming_estimate",
    "table_replace_where_read",
    "table_analyze_read",
    "table_partition_evolution_read",
    "customer_hierarchy_rollup",
    "supplier_pagerank",
    "spend_quartiles",
    "filter_project_scan",
    "distinct_ship_modes",
    "user_value_twap",
    "events_gapfill",
    "events_attribution",
    "events_dedup_burst",
    "events_daily_anomaly",
    "near_dup_source_matrix",
    "dedup_exact_events",
    "dedup_fingerprint_groups",
    "dedup_keep_first",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash_signatures",
    "bm25_search",
    "text_quality",
    "binary_digest_features",
    "lang_score",
    "token_frequencies",
    "knn_brute_force",
    "semdedup_clusters",
    "ann_lsh_bucketed",
    "ann_ivf_probe",
    "embedding_dedup_pairs",
    "embedding_dedup_lsh",
    "label_centroid_spread",
    "synthetic_generate_table",
    "streaming_cms_counts",
    "grouping_sets_revenue",
    "trailing_window_revenue",
    "asof_prev_order",
    "unpivot_part_metrics",
    "range_join_price_bands",
    "cube_order_stats",
    "dedup_substring_spans",
    "source_overlap_minhash",
    "q8_market_share",
    "q14_promo_revenue",
    "semantic_vs_lexical_pairs",
    "lsh_index_incremental",
    "dedup_near_groups",
    "dedup_near_survivors",
    "ann_ivf_trained",
]
_missing = (set(_FRONT) | set(_NEXT) | set(_TAIL)) - REGISTRY.keys()
if _missing:
    raise ValueError(f"registry ordering references unknown queries: {_missing}")
if len(_FRONT) != 50:
    raise ValueError(f"driver window must be exactly 50 queries, got {len(_FRONT)}")
_middle = [n for n in REGISTRY if n not in _FRONT and n not in _NEXT and n not in _TAIL]
REGISTRY = {n: REGISTRY[n] for n in (*_FRONT, *_NEXT, *_middle, *_TAIL)}

__all__ = ["REGISTRY", "Q"]
