"""Family-composite driver queries: the full 93-query operator sweep
folded into ≤50 registry entries so the round driver's 50-row
CORRECTNESS sample covers EVERY operator family (round-2 verdict item
1 — 43 queries previously rode on local-only evidence because the
driver caps its sample).

Mechanism — the "melt" composite: each member query's result is
reshaped into rows of one shared schema

    (op string, k string, metric string, v double, ts timestamp)

where ``op`` is the member's id, ``k`` concatenates every
exactly-castable column (ints/strings/dates/booleans — identical
VARCHAR casts on both engines), and each floating-point / timestamp
column becomes its own (metric, v|ts) row (engine-exact casts;
doubles keep each member's own rounding contract). A ``__row__``
metric row carries key-only members. This preserves the standalone
hash strength: every value of every member still participates in the
driver's order-insensitive value hash, just relocated — a member
regression flips the composite row.

Execution shape: ONE pass per member (projection + explode of a
literal struct array — no per-column re-scan), then UNION ALL. The
DuckDB oracle is generated mechanically from each member's registered
oracle SQL with a CROSS JOIN over the metric VALUES list (one scan of
the member subquery).

Column classification lives in PART_META, generated by
``scripts_dev/gen_composite_meta.py`` from BOTH engines' observed
schemas (build fails loudly on drift via tests/test_composites.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_spark.queries import SPECS, spec

# member specs must exist before _register_composites() runs at the
# bottom of this module — import the modules that register them (safe
# under any import order; Python caches re-imports)
import feature_store_spark.queries_llm  # noqa: E402,F401
import feature_store_spark.queries_quality  # noqa: E402,F401

# generated by scripts_dev/gen_composite_meta.py (sf0.001, both engines)
PART_META = {
    's2_point_lookup': {'keys': ['c_custkey', 'c_mktsegment', 'c_name', 'c_nationkey'], 'nums': ['c_acctbal'], 'tss': []},
    's3_keyset_probe': {'keys': ['o_custkey', 'o_orderkey'], 'nums': ['o_totalprice'], 'tss': []},
    'p6_night_window_events': {'keys': ['night_events', 'total_events', 'user_id'], 'nums': ['night_ratio'], 'tss': []},
    'p8_validation_rules': {'keys': ['rule', 'table_name', 'violations'], 'nums': [], 'tss': []},
    'p7_parameterized_filter': {'keys': ['total_orders', 'user_id'], 'nums': ['avg_order_value'], 'tss': []},
    'u4_except_keys': {'keys': ['user_id'], 'nums': [], 'tss': []},
    'u5_intersect_keys': {'keys': ['user_id'], 'nums': [], 'tss': []},
    'o5_existence_probe': {'keys': ['has_rows', 'table_name'], 'nums': [], 'tss': []},
    'j9_asof_join': {'keys': ['event_id', 'user_id'], 'nums': ['last_purchase_value'], 'tss': ['last_purchase_ts', 'ts']},
    'j10_band_join': {'keys': ['click_event_id', 'delta_seconds', 'error_event_id', 'user_id'], 'nums': [], 'tss': []},
    'j12_supplier_geo_rollup': {'keys': ['acctbal_cents', 'n_suppliers', 'nation', 'region'], 'nums': [], 'tss': []},
    'j5_sample_validation': {'keys': ['c_mktsegment', 'c_name', 'total_orders', 'user_id'], 'nums': ['avg_order_value'], 'tss': []},
    'j7_risk_summary_view': {'keys': ['risk_category', 'segment', 'total_transactions_30d', 'user_id'], 'nums': ['risk_score'], 'tss': []},
    'a6_having_duplicate_keys': {'keys': ['n_orders', 'o_custkey', 'order_date'], 'nums': [], 'tss': []},
    'a12_json_feature_blob': {'keys': ['feature_blob', 'segment'], 'nums': [], 'tss': []},
    'a4_mode_per_key': {'keys': ['preferred_priority', 'user_id'], 'nums': [], 'tss': []},
    'a7_stats_outliers': {'keys': ['count_value', 'outlier_count'], 'nums': ['max_value', 'mean_value', 'min_value', 'stddev_value'], 'tss': []},
    'a8_completeness': {'keys': ['column_name', 'non_null_count', 'table_name', 'total_rows'], 'nums': ['completeness_ratio'], 'tss': []},
    'a9_freshness': {'keys': ['fresh_rows', 'total_rows'], 'nums': ['fresh_ratio'], 'tss': ['max_ts']},
    'a10_table_counts': {'keys': ['row_count', 'table_name'], 'nums': [], 'tss': []},
    'alert_rules': {'keys': ['firing', 'metric', 'rule', 'severity'], 'nums': ['threshold', 'value'], 'tss': []},
    'a27_ab_test_report': {'keys': ['n_converted', 'n_users', 'significant', 'variant'], 'nums': ['conversion_rate', 'z_score'], 'tss': []},
    'a24_skew_report': {'keys': ['n_rows', 'o_custkey', 'rank'], 'nums': ['share', 'x_avg'], 'tss': []},
    'a14_rollup_counts': {'keys': ['balance_cents', 'n_customers', 'nation', 'segment'], 'nums': [], 'tss': []},
    'a15_cube_counts': {'keys': ['balance_cents', 'n_customers', 'nation', 'segment'], 'nums': [], 'tss': []},
    'a17_grouping_sets': {'keys': ['balance_cents', 'n_customers', 'nation', 'segment'], 'nums': [], 'tss': []},
    'a18_algebraic_rollup': {'keys': ['n_events', 'spend_cents', 'week'], 'nums': [], 'tss': ['first_ts', 'last_ts']},
    'a23_incremental_rollup': {'keys': ['n_events', 'spend_cents', 'week'], 'nums': [], 'tss': ['first_ts', 'last_ts']},
    'a28_pivot_event_matrix': {'keys': ['click', 'error', 'purchase', 'signup', 'user_id', 'view'], 'nums': [], 'tss': []},
    'a29_exact_percentiles': {'keys': ['event_type', 'n_events'], 'nums': ['p25', 'p50', 'p90'], 'tss': []},
    'a11_approx_aggregates': {'keys': ['acd_within_10pct', 'exact_distinct', 'p50_within_10pct', 'p95_within_10pct'], 'nums': [], 'tss': []},
    'a16_hll_sketch_rollup': {'keys': ['est_within_5pct', 'exact_users', 'n_daily_partials', 'week'], 'nums': [], 'tss': []},
    'a19_quantile_sketch_rollup': {'keys': ['est_within_10pct', 'n_events', 'week'], 'nums': ['est_p50'], 'tss': []},
    'a25_heavy_hitter_rollup': {'keys': ['bound', 'est', 'rank', 'true_n', 'underestimate', 'user_id', 'week', 'within_bound'], 'nums': [], 'tss': []},
    'a20_decayed_features': {'keys': ['n_events', 'user_id'], 'nums': ['decayed_count', 'decayed_value'], 'tss': []},
    'a21_value_drift': {'keys': ['bucket', 'drifted', 'n_new', 'n_old'], 'nums': ['psi_term', 'psi_total', 'share_new', 'share_old'], 'tss': []},
    'a22_feature_scaling': {'keys': ['o_orderkey'], 'nums': ['mm_o_totalprice', 'z_o_totalprice'], 'tss': []},
    'w3_lag_lead_gaps': {'keys': ['event_id', 'next_event_id', 'prev_event_id', 'seconds_since_prev', 'user_id'], 'nums': [], 'tss': ['ts']},
    'w4_topk_orders_per_customer': {'keys': ['o_custkey', 'o_orderkey', 'rank'], 'nums': ['o_totalprice'], 'tss': []},
    'w6_ntile_buckets': {'keys': ['c_custkey', 'decile', 'segment'], 'nums': ['c_acctbal'], 'tss': []},
    'w7_rolling_spend': {'keys': ['o_orderkey', 'order_date', 'orders_7d', 'spend_7d_cents', 'user_id'], 'nums': [], 'tss': []},
    'w9_event_sequences': {'keys': ['n_events', 'seq', 'seq_len', 'user_id'], 'nums': [], 'tss': ['first_ts', 'last_ts']},
    'w1_latest_event_per_user': {'keys': ['event_id', 'event_type', 'user_id'], 'nums': ['value'], 'tss': ['ts']},
    'w10_funnel_conversion': {'keys': ['funnel_depth', 'user_id'], 'nums': [], 'tss': ['t_click', 't_purchase', 't_view']},
    'w11_funnel_windowed': {'keys': ['funnel_depth', 'user_id'], 'nums': [], 'tss': ['t_click', 't_purchase', 't_view']},
    'w12_cohort_retention': {'keys': ['cohort_size', 'cohort_week', 'n_active', 'period_offset'], 'nums': ['retention_rate'], 'tss': []},
    'w13_gap_fill': {'keys': ['day', 'is_filled', 'spend_cents', 'user_id'], 'nums': [], 'tss': []},
    'w14_event_transitions': {'keys': ['dst', 'n_transitions', 'src'], 'nums': ['p_transition'], 'tss': []},
    'a30_behavior_entropy': {'keys': ['n_event_types', 'n_events', 'user_id'], 'nums': ['entropy'], 'tss': []},
    's12_cdc_apply': {'keys': ['o_custkey', 'o_orderkey', 'o_orderstatus', 'total_cents'], 'nums': [], 'tss': []},
    's12b_merge_replay': {'keys': ['o_custkey', 'o_orderkey', 'o_orderstatus', 'total_cents'], 'nums': [], 'tss': []},
    's12d_dv_delete': {'keys': ['o_custkey', 'o_orderkey', 'o_orderstatus', 'total_cents'], 'nums': [], 'tss': []},
    's12e_dv_update': {'keys': ['o_custkey', 'o_orderkey', 'o_orderstatus', 'total_cents'], 'nums': [], 'tss': []},
    'w2_topk_customers': {'keys': ['c_custkey', 'c_name'], 'nums': ['c_acctbal'], 'tss': []},
    'o3_deterministic_sample': {'keys': ['o_custkey', 'o_orderkey'], 'nums': ['o_totalprice'], 'tss': []},
    'o6_stratified_sample': {'keys': ['c_custkey', 'c_mktsegment', 'c_name', 'c_nationkey'], 'nums': ['c_acctbal'], 'tss': []},
    'o7_priority_sample': {'keys': ['doc_id', 'sample_rank'], 'nums': ['est_weight', 'priority', 'weight'], 'tss': []},
    's9_ordered_export': {'keys': ['c_custkey', 'c_name', 'c_nationkey', 'export_rank'], 'nums': ['c_acctbal'], 'tss': []},
    'f11_iso_roundtrip': {'keys': ['event_id', 'iso_ts', 'parsed_hour'], 'nums': [], 'tss': []},
    'f13_json_extract': {'keys': ['event_id', 'prop_k', 'user_id'], 'nums': [], 'tss': []},
    'f14_freshness_minutes': {'keys': ['freshness_minutes', 'user_id'], 'nums': [], 'tss': ['latest_ts']},
    'st5_velocity_features': {'keys': ['spending_cents_5m', 'transaction_velocity_5m', 'transactions_last_hour', 'unique_event_types_last_hour', 'user_id'], 'nums': ['payment_success_rate_24h'], 'tss': []},
    'st7_session_features': {'keys': ['n_events', 'session_id', 'spend_cents', 'user_id'], 'nums': [], 'tss': ['session_end', 'session_start']},
    't_text_stats': {'keys': ['doc_id', 'n_chars', 'n_tokens', 'n_unique_tokens'], 'nums': ['avg_token_len', 'lexical_diversity', 'punct_ratio', 'stopword_ratio'], 'tss': []},
    't_token_report': {'keys': ['doc_id', 'n_tokens_alnum', 'n_tokens_bpe', 'n_tokens_ws'], 'nums': ['bpe_per_ws'], 'tss': []},
    't_language_id': {'keys': ['doc_id', 'predicted_lang', 'score_de', 'score_en', 'score_es', 'score_fr'], 'nums': [], 'tss': []},
    't_quality_score': {'keys': ['doc_id'], 'nums': ['div_ok', 'len_ok', 'punct_ok', 'quality_score', 'stop_ok'], 'tss': []},
    't_fingerprint': {'keys': ['content_hash', 'doc_id', 'min_shingle_hash'], 'nums': [], 'tss': []},
    't_ngram_lm_score': {'keys': ['doc_id', 'n_bigrams'], 'nums': ['avg_logprob'], 'tss': []},
    't_tfidf_topk': {'keys': ['doc_id', 'rank', 'tf', 'tok'], 'nums': ['tfidf'], 'tss': []},
    't_bm25_topk': {'keys': ['doc_id', 'n_terms', 'query_id', 'rank'], 'nums': ['score'], 'tss': []},
    't_pmi_collocations': {'keys': ['n_pair', 'n_w1', 'n_w2', 'rank', 'w1', 'w2'], 'nums': ['pmi'], 'tss': []},
    't_hybrid_rrf': {'keys': ['doc_id', 'n_sources', 'query_id', 'rank'], 'nums': ['rrf_score'], 'tss': []},
    't_vocab_coverage': {'keys': ['n_occurrences', 'n_vocab', 'rank', 'token'], 'nums': ['cum_share', 'share'], 'tss': []},
    'd_simhash_signatures': {'keys': ['doc_id', 'simhash'], 'nums': [], 'tss': []},
    'd_simhash_near_dup': {'keys': ['hamming', 'id_a', 'id_b'], 'nums': [], 'tss': []},
    'd_ngram_jaccard_pairs': {'keys': ['id_a', 'id_b', 'shared_shingles'], 'nums': ['jaccard'], 'tss': []},
    'd_containment_pairs': {'keys': ['id_a', 'id_b', 'shared_shingles', 'smaller_set'], 'nums': ['containment'], 'tss': []},
    'd_chunk_dedup': {'keys': ['dedup_text', 'doc_id', 'kept_chunks', 'n_chunks'], 'nums': [], 'tss': []},
    'd_embedding_near_dup': {'keys': ['id_a', 'id_b'], 'nums': ['cosine'], 'tss': []},
    'd_semantic_dedup': {'keys': ['bucket', 'dup_of', 'keep', 'vec_id'], 'nums': [], 'tss': []},
    'sim_cosine_topk': {'keys': ['query_id', 'rank', 'vec_id'], 'nums': ['cosine'], 'tss': []},
    'sim_knn_graph': {'keys': ['neighbor_id', 'rank', 'vec_id'], 'nums': ['cosine'], 'tss': []},
    'sim_knn_graph_multiprobe': {'keys': ['neighbor_id', 'rank', 'vec_id'], 'nums': ['cosine'], 'tss': []},
    'g1_pagerank_knn': {'keys': ['node', 'rank_q'], 'nums': ['rank'], 'tss': []},
    'mm_decode_media': {'keys': ['doc_id', 'format', 'height', 'media_type', 'n_bytes', 'width'], 'nums': [], 'tss': []},
    'mm_frame_sample': {'keys': ['doc_id', 'frame_idx', 'n_frames'], 'nums': [], 'tss': []},
    'mm_resize_media': {'keys': ['doc_id', 'media_type', 'out_height', 'out_width', 'payload_md5'], 'nums': ['scale'], 'tss': []},
    'mm_extract_features': {'keys': ['doc_id', 'features_q', 'media_type'], 'nums': [], 'tss': []},
    'pt_contamination': {'keys': ['contaminated', 'eval_doc_id', 'max_shared_ngrams', 'n_contaminating_docs'], 'nums': [], 'tss': []},
    'pt_pii_scrub': {'keys': ['doc_id', 'n_email', 'n_ipv4', 'n_phone', 'scrubbed_text'], 'nums': [], 'tss': []},
    'pt_chunk_documents': {'keys': ['chunk_idx', 'chunk_text', 'doc_id', 'n_tokens'], 'nums': [], 'tss': []},
    'pt_repetition_stats': {'keys': ['doc_id', 'n_tokens', 'repetitive'], 'nums': ['dup_trigram_frac', 'top_bigram_frac', 'top_unigram_frac'], 'tss': []},
    'pt_temperature_mixture': {'keys': ['doc_id', 'quota', 'sample_rank', 'source'], 'nums': [], 'tss': []},
    'pt_pack_token_budget': {'keys': ['chunk_id', 'chunk_offset', 'doc_id', 'n_tokens', 'source'], 'nums': [], 'tss': []},
    'pt_dup_span_stats': {'keys': ['doc_id', 'n_dup_windows', 'n_tokens', 'n_windows'], 'nums': ['dup_token_frac', 'dup_window_frac'], 'tss': []},
    'emb_label_centroids': {'keys': ['centroid_q', 'label', 'n_vectors'], 'nums': [], 'tss': []},
    'emb_quantize_int8': {'keys': ['codes_q', 'vec_id'], 'nums': ['scale'], 'tss': []},
    'emb_kmeans_clusters': {'keys': ['cluster', 'dist_q', 'vec_id'], 'nums': [], 'tss': []},
    'o10_cluster_sample': {'keys': ['cluster', 'sample_rank', 'vec_id'], 'nums': [], 'tss': []},
    'sim_cosine_topk_int8': {'keys': ['query_id', 'rank', 'vec_id'], 'nums': ['cosine_q'], 'tss': []},
    'sim_ndcg_cosine': {'keys': ['n_hits', 'n_relevant', 'query_id'], 'nums': ['dcg', 'idcg', 'ndcg'], 'tss': []},
    'o8_dataset_split': {'keys': ['doc_id', 'split'], 'nums': [], 'tss': []},
    'o9_negative_samples': {'keys': ['item_id', 'slot', 'user_id'], 'nums': [], 'tss': []},
}

# composite id -> member query ids (every SPECS entry not in a suite
# stays a standalone driver entry; tests assert total coverage)
COMPOSITES = {
    "suite_probe_lookup": ["s2_point_lookup", "s3_keyset_probe"],
    "suite_predicates": [
        "p6_night_window_events", "p8_validation_rules",
        "p7_parameterized_filter",
    ],
    "suite_relational_sets": [
        "u4_except_keys", "u5_intersect_keys", "o5_existence_probe",
    ],
    "suite_asof_band_join": [
        "j9_asof_join", "j10_band_join", "j12_supplier_geo_rollup",
    ],
    "suite_join_views": ["j5_sample_validation", "j7_risk_summary_view"],
    "suite_agg_quality": [
        "a6_having_duplicate_keys", "a12_json_feature_blob",
    ],
    "suite_agg_stats": [
        "a4_mode_per_key", "a7_stats_outliers", "a29_exact_percentiles",
        "a30_behavior_entropy",
    ],
    "suite_reports": [
        "a8_completeness", "a9_freshness", "a10_table_counts",
        "a24_skew_report", "alert_rules", "a27_ab_test_report",
    ],
    "suite_rollups": [
        "a14_rollup_counts", "a15_cube_counts", "a17_grouping_sets",
        "a18_algebraic_rollup", "a23_incremental_rollup",
        "a28_pivot_event_matrix",
    ],
    "suite_sketches": [
        "a11_approx_aggregates", "a16_hll_sketch_rollup",
        "a19_quantile_sketch_rollup", "a25_heavy_hitter_rollup",
    ],
    "suite_drift_scaling": [
        "a20_decayed_features", "a21_value_drift", "a22_feature_scaling",
    ],
    "suite_windows": [
        "w3_lag_lead_gaps", "w4_topk_orders_per_customer",
        "w6_ntile_buckets", "w7_rolling_spend", "w9_event_sequences",
        "w10_funnel_conversion", "w11_funnel_windowed",
        "w12_cohort_retention", "w13_gap_fill", "w14_event_transitions",
    ],
    "suite_latest_topk": [
        "w1_latest_event_per_user", "w2_topk_customers", "s12_cdc_apply",
        "s12b_merge_replay",
        "s12d_dv_delete",
        "s12e_dv_update",
    ],
    "suite_sampling": [
        "o3_deterministic_sample", "o6_stratified_sample",
        "o7_priority_sample", "s9_ordered_export", "o8_dataset_split",
        "o9_negative_samples",
    ],
    "suite_datetime_json": [
        "f11_iso_roundtrip", "f13_json_extract", "f14_freshness_minutes",
    ],
    "suite_streaming_replay": ["st5_velocity_features", "st7_session_features"],
    "suite_text_stats": [
        "t_text_stats", "t_token_report", "t_language_id",
        "t_quality_score", "t_fingerprint",
    ],
    "suite_text_models": [
        "t_ngram_lm_score", "t_tfidf_topk", "t_vocab_coverage",
        "t_bm25_topk", "t_pmi_collocations", "t_hybrid_rrf",
    ],
    "suite_simhash": ["d_simhash_signatures", "d_simhash_near_dup"],
    "suite_neardup_pairs": [
        "d_ngram_jaccard_pairs", "d_embedding_near_dup",
        "d_semantic_dedup", "d_containment_pairs", "d_chunk_dedup",
    ],
    "suite_cosine_topk": [
        "sim_cosine_topk", "sim_cosine_topk_int8", "sim_ndcg_cosine",
    ],
    "suite_knn_graph": [
        "sim_knn_graph", "sim_knn_graph_multiprobe", "g1_pagerank_knn",
    ],
    "suite_multimodal": [
        "mm_decode_media", "mm_frame_sample", "mm_resize_media",
        "mm_extract_features",
    ],
    "suite_pretrain_gates": [
        "pt_contamination", "pt_pii_scrub", "pt_chunk_documents",
    ],
    "suite_pretrain_stats": [
        "pt_repetition_stats", "pt_temperature_mixture",
        "pt_pack_token_budget", "pt_dup_span_stats",
    ],
    "suite_embedding": [
        "emb_label_centroids", "emb_quantize_int8",
        "emb_kmeans_clusters", "o10_cluster_sample",
    ],
}

# SPECS entries the driver keeps as standalone rows (pipelines, the
# heavy dedup/ANN family, and shapes whose standalone row IS the
# flagship check)
STANDALONE = [
    "pipeline_user_features",
    "pipeline_transaction_features",
    "pipeline_risk_features",
    "pipeline_serving_join",
    "serving_from_store",
    "j11_snapshot_diff",
    "s1_scan_time_predicate",
    "j4_anti_join_orphans",
    "j8_dynamic_join",
    "u1_union_active_keys",
    "f_scalar_suite",
    "d_exact_dedup",
    "d_minhash_lsh_pairs",
    "d_near_dup_clusters",
    "d_lsh_incremental",
    "d_corpus_curation",
    "d_mllib_minhash_pairs",
    "sim_lsh_ann_topk",
    "sim_ivf_ann_topk",
    "sim_pq_ann_topk",
    "ml_risk_scores",
    "t_quality_model",
    "w8_scd2_history",
    "l1_zorder_key",
]

NULL_KEY = "^"  # NULL placeholder inside k (concat_ws skips NULLs)
ROW_METRIC = "__row__"  # carrier row for key-only members


def _melt_df(df: DataFrame, op: str, meta: dict) -> DataFrame:
    k = F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(NULL_KEY))
            for c in meta["keys"]
        ],
    )
    null_v = F.lit(None).cast("double")
    null_ts = F.lit(None).cast("timestamp")
    structs = [
        F.struct(
            F.lit(ROW_METRIC).alias("metric"),
            null_v.alias("v"),
            null_ts.alias("ts"),
        )
    ]
    for c in meta["nums"]:
        structs.append(
            F.struct(
                F.lit(c).alias("metric"),
                F.col(c).cast("double").alias("v"),
                null_ts.alias("ts"),
            )
        )
    for c in meta["tss"]:
        structs.append(
            F.struct(
                F.lit(c).alias("metric"),
                null_v.alias("v"),
                F.col(c).cast("timestamp").alias("ts"),
            )
        )
    return df.select(
        F.lit(op).alias("op"),
        k.alias("k"),
        F.explode(F.array(*structs)).alias("__m"),
    ).select("op", "k", "__m.metric", "__m.v", "__m.ts")


def _melt_sql(op: str, inner_sql: str, meta: dict) -> str:
    kexpr = "concat_ws('|', " + ", ".join(
        f"coalesce(CAST(t.{c} AS VARCHAR), '{NULL_KEY}')"
        for c in meta["keys"]
    ) + ")"
    metrics = [ROW_METRIC] + meta["nums"] + meta["tss"]
    values = ", ".join(f"('{m}')" for m in metrics)
    if meta["nums"]:
        v_case = (
            "CASE m.metric "
            + " ".join(
                f"WHEN '{c}' THEN CAST(t.{c} AS DOUBLE)"
                for c in meta["nums"]
            )
            + " END"
        )
    else:
        v_case = "CAST(NULL AS DOUBLE)"
    if meta["tss"]:
        ts_case = (
            "CASE m.metric "
            + " ".join(f"WHEN '{c}' THEN t.{c}" for c in meta["tss"])
            + " END"
        )
    else:
        ts_case = "CAST(NULL AS TIMESTAMP)"
    return (
        f"SELECT '{op}' AS op, {kexpr} AS k, m.metric AS metric,\n"
        f"       {v_case} AS v, {ts_case} AS ts\n"
        f"FROM ({inner_sql}) t CROSS JOIN (VALUES {values}) m(metric)"
    )


def _register_composites() -> None:
    for cname, members in COMPOSITES.items():
        sqls = []
        for m in members:
            s = SPECS[m]
            assert s.sql is not None, f"composite member {m} has no oracle"
            sqls.append(_melt_sql(m, s.sql, PART_META[m]))
        composite_sql = "\nUNION ALL\n".join(sqls)
        tags = ("composite",) + tuple(members)

        def make_fn(member_names):
            def fn(spark, sf_dir):
                parts = [
                    _melt_df(
                        SPECS[m].fn(spark, sf_dir), m, PART_META[m]
                    )
                    for m in member_names
                ]
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                return out

            fn.__doc__ = (
                "Melt composite of: " + ", ".join(member_names)
                + " (see module docstring)."
            )
            return fn

        spec(cname, composite_sql, tags)(make_fn(list(members)))


_register_composites()


def driver_registry() -> list[str]:
    """The ≤50 names exposed to the round driver: every operator
    family has exactly one row (standalone or composite)."""
    return STANDALONE + sorted(COMPOSITES)
