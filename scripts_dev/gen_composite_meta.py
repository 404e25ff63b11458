"""Generate the per-part column classification used by
feature_store_spark/queries_composite.py.

For every query merged into a driver composite, run the registered
Spark callable AND the DuckDB oracle at sf0.001, classify each output
column into the melt slots (key = exact-castable types concatenated
into `k`; num = floating types into the `v` slot; ts = timestamps into
the `ts` slot), assert the two engines' classifications agree, and
print the PART_META literal to paste into queries_composite.py.
A regression test re-derives the Spark side and compares.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from feature_store_spark.oracle import duckdb_connection
from feature_store_spark.queries import SPECS, all_queries
from feature_store_spark.session import get_spark

SF = "/root/testdata/sf0.001"

PARTS = [
    "s2_point_lookup", "s3_keyset_probe", "p6_night_window_events",
    "p8_validation_rules", "p7_parameterized_filter", "u4_except_keys",
    "u5_intersect_keys", "o5_existence_probe", "j9_asof_join", "j10_band_join",
    "j12_supplier_geo_rollup", "j5_sample_validation", "j7_risk_summary_view",
    "a6_having_duplicate_keys", "a12_json_feature_blob", "a4_mode_per_key",
    "a7_stats_outliers", "a8_completeness", "a9_freshness", "a10_table_counts",
    "alert_rules", "a27_ab_test_report", "a24_skew_report",
    "a14_rollup_counts", "a15_cube_counts", "a17_grouping_sets",
    "a18_algebraic_rollup", "a23_incremental_rollup", "a28_pivot_event_matrix",
    "a29_exact_percentiles", "a11_approx_aggregates", "a16_hll_sketch_rollup",
    "a19_quantile_sketch_rollup", "a25_heavy_hitter_rollup",
    "a20_decayed_features", "a21_value_drift", "a22_feature_scaling",
    "w3_lag_lead_gaps", "w4_topk_orders_per_customer", "w6_ntile_buckets",
    "w7_rolling_spend", "w9_event_sequences", "w1_latest_event_per_user",
    "w10_funnel_conversion", "w11_funnel_windowed", "w12_cohort_retention",
    "w13_gap_fill", "w14_event_transitions", "a30_behavior_entropy",
    "s12_cdc_apply", "s12b_merge_replay", "s12d_dv_delete", "s12e_dv_update",
    "w2_topk_customers", "o3_deterministic_sample", "o6_stratified_sample",
    "o7_priority_sample", "s9_ordered_export", "f11_iso_roundtrip",
    "f13_json_extract", "f14_freshness_minutes", "st5_velocity_features",
    "st7_session_features", "t_text_stats", "t_token_report", "t_language_id",
    "t_quality_score", "t_fingerprint", "t_ngram_lm_score", "t_tfidf_topk",
    "t_bm25_topk", "t_pmi_collocations", "t_hybrid_rrf", "t_vocab_coverage",
    "d_simhash_signatures", "d_simhash_near_dup", "d_ngram_jaccard_pairs",
    "d_containment_pairs", "d_chunk_dedup", "d_embedding_near_dup",
    "d_semantic_dedup", "sim_cosine_topk", "sim_knn_graph",
    "sim_knn_graph_multiprobe", "g1_pagerank_knn", "mm_decode_media",
    "mm_frame_sample", "mm_resize_media", "mm_extract_features",
    "pt_contamination", "pt_pii_scrub", "pt_chunk_documents",
    "pt_repetition_stats", "pt_temperature_mixture", "pt_pack_token_budget",
    "pt_dup_span_stats", "emb_label_centroids", "emb_quantize_int8",
    "emb_kmeans_clusters", "o10_cluster_sample", "sim_cosine_topk_int8",
    "sim_ndcg_cosine", "o8_dataset_split", "o9_negative_samples",
]

SPARK_KEY = {"tinyint", "smallint", "int", "bigint", "string", "date",
             "boolean"}
SPARK_NUM = {"double", "float"}
DUCK_KEY = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
            "VARCHAR", "DATE", "BOOLEAN", "UTINYINT", "USMALLINT",
            "UINTEGER", "UBIGINT"}
DUCK_NUM = {"DOUBLE", "FLOAT", "REAL"}


def classify_spark(df):
    keys, nums, tss = [], [], []
    for name, dt in df.dtypes:
        if dt in SPARK_KEY:
            keys.append(name)
        elif dt in SPARK_NUM or dt.startswith("decimal"):
            nums.append(name)
        elif dt in ("timestamp", "timestamp_ntz"):
            tss.append(name)
        else:
            raise SystemExit(f"unhandled spark type {dt} for {name}")
    return sorted(keys), sorted(nums), sorted(tss)


def classify_duck(desc):
    keys, nums, tss = [], [], []
    for name, tc in desc:
        t = str(tc).upper()
        if t in DUCK_KEY:
            keys.append(name)
        elif t in DUCK_NUM or t.startswith("DECIMAL") or t == "NUMBER":
            nums.append(name)
        elif t.startswith("TIMESTAMP") or t == "DATETIME":
            tss.append(name)
        else:
            raise SystemExit(f"unhandled duck type {t} for {name}")
    return sorted(keys), sorted(nums), sorted(tss)


def main():
    spark = get_spark("gen_composite_meta", shuffle_partitions=8)
    all_queries()
    con = duckdb_connection(SF)
    out = {}
    for name in PARTS:
        s = SPECS[name]
        sk = classify_spark(s.fn(spark, SF))
        desc = con.execute(
            f"DESCRIBE SELECT * FROM ({s.sql}) LIMIT 0"
        ).fetchall()
        dk = classify_duck([(r[0], r[1]) for r in desc])
        if sk != dk:
            print(f"MISMATCH {name}: spark={sk} duck={dk}")
            raise SystemExit(1)
        out[name] = {"keys": sk[0], "nums": sk[1], "tss": sk[2]}
        print(f"ok {name}: k={len(sk[0])} v={len(sk[1])} ts={len(sk[2])}")
    print("\nPART_META = {")
    for name, meta in out.items():
        print(f"    {name!r}: {meta!r},")
    print("}")


if __name__ == "__main__":
    main()
