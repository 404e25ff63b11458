"""Round-3 ADVICE.md defect regressions: misuse guards and edge
semantics that should fail loudly (or behave identically on both
engines) rather than corrupt results silently."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feature_store_spark.operators.aggregates import decayed_aggregate
from feature_store_spark.operators.diff import (
    snapshot_diff,
    snapshot_diff_oracle_sql,
    value_drift_report,
)


def test_snapshot_diff_rejects_key_compare_overlap(spark):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError, match="disjoint.*'k'"):
        snapshot_diff(df, df, key_cols=["k"], compare_cols=["k", "v"])


def test_snapshot_diff_oracle_sql_rejects_overlap():
    with pytest.raises(ValueError, match="disjoint.*'k'"):
        snapshot_diff_oracle_sql(
            "SELECT 1 AS k, 'a' AS v",
            "SELECT 1 AS k, 'b' AS v",
            key_cols=["k"],
            compare_cols=["k", "v"],
        )


def test_decayed_aggregate_overflow_raises_with_knob_pointer(spark):
    # horizon=30 → per-row bound 2^32 cents ≈ 4.3e9 → value ≈ 4.3e7.
    df = spark.createDataFrame(
        [(1, "2024-01-30 00:00:00", 1e9)],
        "k int, ts string, v double",
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    out = decayed_aggregate(df, "k", "ts", "v", now="2024-01-31", horizon=30)
    with pytest.raises(Exception, match="horizon"):
        out.collect()


def test_decayed_aggregate_in_bound_unaffected(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-30 00:00:00", 100.0), (1, "2024-01-01 00:00:00", 50.0)],
        "k int, ts string, v double",
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    row = decayed_aggregate(
        df, "k", "ts", "v", now="2024-01-31", half_life_days=7, horizon=30
    ).collect()[0]
    # 100 at age 0 half-lives (w=1) + 50 at age 4 half-lives (w=1/16)
    assert row["n_events"] == 2
    assert row["decayed_value"] == pytest.approx(100.0 + 50.0 / 16)


def test_value_drift_null_rate_change_lands_in_null_bucket(spark):
    old = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4]] + [(None,)], "v double"
    )
    new = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4]] + [(None,)] * 40, "v double"
    )
    rep = {
        r["bucket"]: r
        for r in value_drift_report(old, new, "v").collect()
    }
    null_bucket = -(10**9) - 1
    zero_bucket = -(10**9)
    assert null_bucket in rep
    assert rep[null_bucket]["n_old"] == 1 and rep[null_bucket]["n_new"] == 40
    # NULLs must NOT leak into the v<=0 bucket
    assert zero_bucket not in rep
    # a pure NULL-rate shift of this size is real drift
    assert rep[null_bucket]["psi_total"] > 0.2


def test_decayed_aggregate_extreme_value_gets_targeted_error(spark):
    """A value far past int64 (1e18 -> cents 1e20) must hit the
    targeted guard on the pre-cast double, not an opaque ANSI
    CAST_OVERFLOW in the bigint projection."""
    df = spark.createDataFrame(
        [(1, "2024-01-30 00:00:00", 1e18)],
        "k int, ts string, v double",
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    out = decayed_aggregate(df, "k", "ts", "v", now="2024-01-31")
    with pytest.raises(Exception, match="horizon"):
        out.collect()


def test_decayed_aggregate_sum_cannot_overflow_at_row_bound(spark):
    """Many same-key rows at the per-row bound must aggregate exactly
    (DECIMAL accumulation), not raise ARITHMETIC_OVERFLOW as a bigint
    sum would: 8 rows x 2^32 cents x 2^30 scale = 2^65 > int64."""
    bound_value = float(2**32) / 100.0  # |cents| == 2^32 == bound
    rows = [(1, "2024-01-31 00:00:00", bound_value)] * 8
    df = spark.createDataFrame(
        rows, "k int, ts string, v double"
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    row = decayed_aggregate(
        df, "k", "ts", "v", now="2024-01-31", horizon=30
    ).collect()[0]
    assert row["n_events"] == 8
    assert row["decayed_value"] == pytest.approx(8 * bound_value)


def test_cosine_topk_rejects_unknown_kernel(spark):
    from feature_store_spark.llm.similarity import cosine_topk

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="unknown kernel"):
        cosine_topk(df, q, kernel="native")


def test_chunk_documents_preserves_null_text_docs(spark):
    """Keep-the-spine: a NULL-text document must yield exactly one
    empty chunk (like an empty document), not vanish — on BOTH
    engines."""
    import duckdb

    from feature_store_spark.llm.pretrain import (
        chunk_documents,
        chunk_documents_oracle_sql,
    )
    from feature_store_spark.oracle import compare

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=3, overlap=1)
    rows = {r["doc_id"]: r for r in out.collect() if r["chunk_idx"] == 0}
    assert set(rows) == {0, 1, 2}
    assert rows[1]["n_tokens"] == 0 and rows[1]["chunk_text"] == ""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'alpha beta gamma delta'), (1, NULL), (2, '')) t(doc_id, text)"
    )
    assert compare(
        out, con, chunk_documents_oracle_sql(chunk_tokens=3, overlap=1)
    )["ok"]


def test_quality_aggregates_survive_degenerate_inputs(spark):
    """ANSI-mode regressions: one-value stats, empty freshness, and
    empty completeness must report NULLs (DuckDB 0/0 semantics), not
    raise DIVIDE_BY_ZERO and abort the quality driver."""
    from feature_store_spark.operators.aggregates import (
        completeness_report,
        freshness_report,
        stats_with_outliers,
    )

    one = spark.createDataFrame([(5.0,)], "v double")
    r = stats_with_outliers(one, "v").collect()[0]
    assert r["count_value"] == 1 and r["stddev_value"] is None

    empty = spark.createDataFrame([], "ts timestamp, v double")
    fr = freshness_report(empty, "ts", "2024-01-31 00:00:00").collect()[0]
    assert fr["total_rows"] == 0 and fr["fresh_ratio"] is None

    edocs = spark.createDataFrame([], "text string, lang string")
    rows = completeness_report(edocs, ["text", "lang"], "docs").collect()
    assert all(
        r["total_rows"] == 0 and r["completeness_ratio"] is None
        for r in rows
    )


def test_ngram_jaccard_max_df_prunes_candidates_not_similarity(spark):
    """max_df must only restrict candidate generation: an emitted
    pair's jaccard must equal the exact full-universe value, not the
    jaccard of the pruned shingle universe."""
    from feature_store_spark.llm.dedup import ngram_jaccard_pairs

    hub = "common boiler plate header text here"  # shared by ALL docs
    rows = [(i, f"{hub} filler{i} x{i} y{i} z{i}") for i in range(10)]
    # docs 100/101 share the hub AND a distinctive tail
    rows.append((100, f"{hub} unique shared tail alpha beta"))
    rows.append((101, f"{hub} unique shared tail gamma delta"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.1, max_df=5
        ).collect()
    }
    assert (100, 101) in pruned
    # identical similarity values wherever a candidate survives
    for pair, j in pruned.items():
        assert j == exact[pair], pair


def test_mllib_minhash_keeps_exact_threshold_boundary(spark):
    """A pair at exactly J == threshold must be kept (inclusive >=,
    like every sibling operator) — approxSimilarityJoin's strict <
    distance cutoff would drop it without the widened cutoff."""
    from feature_store_spark.llm.dedup import mllib_minhash_pairs

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d f")],  # J = 2/4 = 0.5 exactly
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in mllib_minhash_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert pairs.get((0, 1)) == 0.5


def test_token_report_bpe_parity_on_planted_punctuation(spark):
    """The documents fixture is pure lowercase [a-z ] where whitespace
    and BPE-pre-token counts coincide, so the oracle row alone cannot
    exercise the interesting alternations. Plant contractions, digits,
    punctuation, unicode letters, NULL and empty text and hash-compare
    both engines; then pin the known GPT-2-pre-token arithmetic."""
    import duckdb

    from feature_store_spark.llm.text import token_report, token_report_oracle_sql
    from feature_store_spark.oracle import compare

    rows = [
        (0, "it's 2024, we're 100% ready-to-go!"),
        (1, "don't  stop   believing"),
        (2, "naïve café déjà-vu ©2020"),
        (3, ""),
        (4, None),
        (5, "the quick brown fox"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_report(docs)
    got = {r["doc_id"]: r for r in out.collect()}
    # "it's 2024, we're 100% ready-to-go!" pre-tokens:
    # [it]['s][ 2024][,][ we]['re][ 100][%][ ready][-to][-go][!] +
    # 2 splits inside -to/-go ("-","to","-","go" -> '-to' matches
    # punct-run "-" then letter-run "to") = 14
    assert got[0]["n_tokens_ws"] == 5 and got[0]["n_tokens_bpe"] == 14
    assert got[1]["n_tokens_bpe"] == 4  # [don]['t][ stop][ believing]
    assert got[3]["n_tokens_ws"] == 0 and got[3]["bpe_per_ws"] is None
    assert got[4]["n_tokens_bpe"] is None  # NULL text stays NULL
    assert got[5]["n_tokens_ws"] == got[5]["n_tokens_bpe"] == 4
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'it''s 2024, we''re 100% ready-to-go!'),"
        "(1, 'don''t  stop   believing'),"
        "(2, 'naïve café déjà-vu ©2020'),"
        "(3, ''), (4, NULL), (5, 'the quick brown fox')"
        ") t(doc_id, text)"
    )
    assert compare(out, con, token_report_oracle_sql())["ok"]


def test_near_rounding_boundary_flags_half_points_not_grid():
    """Round-4 review regression: the compensated-precision mask must
    flag scores near HALF-points (x.5 — where round-to-nearest can
    flip between float64 and longdouble) and ignore grid points (x.0
    — stable under both)."""
    import numpy as np

    from feature_store_spark.llm.similarity import _near_rounding_boundary

    scaled = np.array(
        [
            123456.4999999,  # knife-edge: must be flagged
            123456.5000001,  # knife-edge: must be flagged
            123456.0000001,  # grid point: stable, must NOT be flagged
            123455.9999999,  # grid point: stable, must NOT be flagged
            123456.25,  # mid-cell: must NOT be flagged
            np.nan,  # zero-norm pair: handled separately
        ]
    )
    assert _near_rounding_boundary(scaled).tolist() == [
        True,
        True,
        False,
        False,
        False,
        False,
    ]


def test_arrow_kernels_reject_ragged_vectors_even_when_divisible(spark):
    """Ragged lists whose TOTAL element count divides the row count
    used to slip past the reshape guard and score garbage rows — they
    must fail with the same targeted contract error."""
    from feature_store_spark.llm.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "vec_id bigint, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(9, [1.0, 2.0, 3.0, 4.0])], "query_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="ragged|non-null fixed-dimension"):
        cosine_topk(emb, q, k=2).collect()


def test_int8_empty_queries_preserve_query_id_type(spark):
    """The arrow kernel's empty-queries short-circuit must keep the
    INPUT query-id type (here: string), like the non-empty path."""
    from feature_store_spark.llm.similarity import cosine_topk_int8

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    q = spark.createDataFrame([], "query_id string, embedding array<double>")
    out = cosine_topk_int8(emb, q, k=3)
    assert out.schema["query_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_arrow_kernels_reject_null_vectors_loudly(spark):
    """Arrow's flatten() silently drops NULL lists, so a nullable
    embedding column would reshape into garbage scored against the
    wrong ids — the kernels must fail with the targeted contract
    error instead (the JVM kernels keep defined NULL semantics)."""
    from pyspark.sql import functions as F

    from feature_store_spark.llm.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(Exception, match="non-null fixed-dimension"):
        cosine_topk(emb, q, k=2).collect()
    # the documented fallback handles NULLs with defined semantics
    rows = cosine_topk(emb, q, k=2, kernel="jvm").collect()
    assert {r["vec_id"] for r in rows} == {1, 2}


@pytest.mark.slow
def test_embedding_near_dup_all_pairs_guard(spark):
    """The exact all-pairs baseline must refuse oversized inputs with
    a pointer to the bucketed variants — nobody ships O(n²) at corpus
    scale by accident — and still run when forced or under the cap."""
    from feature_store_spark.llm.dedup import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="bucketed scale paths"):
        embedding_near_dup_pairs(df, max_rows=5)
    assert embedding_near_dup_pairs(df, max_rows=10).count() > 0
    assert embedding_near_dup_pairs(df, max_rows=None).count() > 0


def test_repetition_stats_sentinel_keeps_degenerate_docs(spark):
    """The round-4 sentinel (replacing the doc-spine join) must keep
    empty/NULL/short documents with zero tokens and NULL ratios —
    exactly what the join used to guarantee."""
    from feature_store_spark.llm.pretrain import repetition_stats

    docs = spark.createDataFrame(
        [(0, "a b c a b c"), (1, ""), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert set(got) == {0, 1, 2, 3}
    for d in (1, 2):
        assert got[d]["n_tokens"] == 0
        assert got[d]["top_unigram_frac"] is None
        assert got[d]["repetitive"] is False
    assert got[3]["n_tokens"] == 1 and got[3]["top_bigram_frac"] is None
    assert got[0]["n_tokens"] == 6 and got[0]["repetitive"] is True


def test_negative_samples_empty_catalog_yields_empty_not_error(spark):
    """pmod(h, 0) on an empty catalog used to raise an opaque ANSI
    DIVIDE_BY_ZERO while the DuckDB twin's `% n` yields NULL and
    returns no rows — the guard short-circuits the index to NULL so
    both engines agree on an empty result. Exercised both with AQE
    empty-relation propagation (default) and with it disabled, where
    the projection actually evaluates."""
    from feature_store_spark.operators.sampling import negative_samples

    users = spark.createDataFrame([(1,), (2,)], "user_id bigint")
    items = spark.createDataFrame([], "item_id bigint")
    assert negative_samples(users, items, k=2).count() == 0
    prop = "spark.sql.optimizer.propagateEmptyRelation.enabled"
    old = spark.conf.get(prop, "true")
    try:
        spark.conf.set(prop, "false")
        assert negative_samples(users, items, k=2).count() == 0
    finally:
        spark.conf.set(prop, old)


def test_bm25_oracle_sql_escapes_quoted_terms():
    """A query id/term containing an apostrophe must produce valid
    (escaped) VALUES SQL — previously it silently built malformed
    oracle SQL while the Spark side still ran."""
    import duckdb

    from feature_store_spark.llm.text import bm25_topk_oracle_sql

    sql = bm25_topk_oracle_sql(
        [("q'1", ["o'brien", "shuffle"])], table="docs", k=3
    )
    assert "'q''1'" in sql and "'o''brien'" in sql
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW docs AS SELECT * FROM (VALUES "
        "(1, 'shuffle join'), (2, 'table scan')) t(doc_id, text)"
    )
    rows = con.execute(sql).fetchall()  # parses and runs
    assert {r[0] for r in rows} == {"q'1"}


def test_temperature_mixture_quota_exact_at_equal_counts(spark):
    """20 equal-count sources put every true quota exactly ON the
    floor boundary (budget * w / (20w) = budget/20). The float form
    flipped quotas to budget/20 - 1 depending on the GROUPING of the
    double wsum partial sums (caught by the sf0.1 sweep: 20 x 250
    docs); the quantized-bigint form must give budget/20 under any
    partitioning, and still match the DuckDB twin."""
    import duckdb

    from feature_store_spark.llm.pretrain import (
        temperature_mixture,
        temperature_mixture_oracle_sql,
    )
    from feature_store_spark.oracle import compare

    rows = [(s * 1000 + i, f"src{s}") for s in range(20) for i in range(250)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string"
    ).repartition(32)
    out = temperature_mixture(docs, alpha=0.5, budget=200)
    got = out.groupBy("source").count().collect()
    assert len(got) == 20 and all(r["count"] == 10 for r in got)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT "
        "(s * 1000 + i) AS doc_id, 'src' || s AS source "
        "FROM range(20) t(s), range(250) u(i)"
    )
    assert compare(
        out, con, temperature_mixture_oracle_sql(alpha=0.5, budget=200)
    )["ok"]


def test_containment_catches_subset_that_jaccard_misses(spark):
    """The reason containment exists next to Jaccard: a short doc
    embedded VERBATIM in a long one scores C=1.0 but a Jaccard far
    below any useful gate — a resemblance-only dedup pass ships the
    duplicated content."""
    from feature_store_spark.llm.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_doc = " ".join(f"w{i}" for i in range(25))  # 23 3-grams
    short_doc = " ".join(f"w{i}" for i in range(5))  # 3 3-grams, subset
    docs = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, "x y z q r s")],
        "doc_id bigint, text string",
    )
    cont = ngram_containment_pairs(docs, n=3, threshold=0.8).collect()
    assert len(cont) == 1
    assert (cont[0]["id_a"], cont[0]["id_b"]) == (1, 2)
    assert cont[0]["containment"] == 1.0
    assert cont[0]["smaller_set"] == 3
    # the same pair is invisible to a 0.5-Jaccard gate (J = 3/23)
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect() == []


def test_containment_max_df_prunes_candidates_not_values(spark):
    """Hub pruning changes candidate GENERATION only: with a generous
    max_df the output equals the unpruned op exactly; with max_df=1
    the planted subset pair (whose overlap shingles all appear in 2
    docs) produces no candidate — pruned recall, never wrong values."""
    from feature_store_spark.llm.dedup import ngram_containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(25))
    short_doc = " ".join(f"w{i}" for i in range(5))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, "x y z q r s")],
        "doc_id bigint, text string",
    )
    full = sorted(
        map(tuple, ngram_containment_pairs(docs, n=3, threshold=0.8).collect())
    )
    pruned_hi = sorted(
        map(
            tuple,
            ngram_containment_pairs(
                docs, n=3, threshold=0.8, max_df=100
            ).collect(),
        )
    )
    assert full == pruned_hi and len(full) == 1
    assert (
        ngram_containment_pairs(docs, n=3, threshold=0.8, max_df=1).collect()
        == []
    )


def test_evaluate_alerts_semantics(spark):
    """Alert-rule evaluation (the reference's PromQL ladder shape,
    monitoring/alerts/api_alerts.yml): firing per op, absent metric ->
    value NULL + firing FALSE, bad/empty rules raise."""
    import pytest

    from feature_store_spark.operators.aggregates import evaluate_alerts

    metrics = spark.createDataFrame(
        [("m_low", 0.5), ("m_high", 2.0)], "metric string, value double"
    )
    rules = [
        {"rule": "low_lt", "metric": "m_low", "op": "<",
         "threshold": 0.8, "severity": "warning"},
        {"rule": "high_gt", "metric": "m_high", "op": ">",
         "threshold": 1.0, "severity": "critical"},
        {"rule": "high_ge_edge", "metric": "m_high", "op": ">=",
         "threshold": 2.0, "severity": "warning"},
        {"rule": "high_eq", "metric": "m_high", "op": "==",
         "threshold": 2.0, "severity": "warning"},
        {"rule": "absent", "metric": "nope", "op": ">",
         "threshold": 0.0, "severity": "critical"},
    ]
    got = {r["rule"]: r for r in evaluate_alerts(metrics, rules).collect()}
    assert got["low_lt"]["firing"] is True
    assert got["high_gt"]["firing"] is True
    assert got["high_ge_edge"]["firing"] is True
    assert got["high_eq"]["firing"] is True
    assert got["absent"]["firing"] is False
    assert got["absent"]["value"] is None
    assert got["high_gt"]["severity"] == "critical"

    with pytest.raises(ValueError, match="op"):
        evaluate_alerts(
            metrics,
            [{"rule": "x", "metric": "m_low", "op": "!!",
              "threshold": 1, "severity": "warning"}],
        )
    with pytest.raises(ValueError, match="rules"):
        evaluate_alerts(metrics, [])


def test_chunk_dedup_removes_repeated_spans_keeps_first(spark):
    """Paragraph-style dedup semantics: a boilerplate span shared by
    two docs survives only in the FIRST (doc_id, chunk_idx) instance;
    reassembly preserves chunk order; whole-corpus-unique docs pass
    through untouched; empty docs keep their spine row."""
    from feature_store_spark.llm.dedup import chunk_dedup

    boiler = " ".join(f"b{i}" for i in range(4))  # one 4-token chunk
    uniq1 = " ".join(f"u{i}" for i in range(4))
    uniq2 = " ".join(f"v{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (1, f"{uniq1} {boiler}"),        # chunks: [uniq1, boiler]
            (2, f"{boiler} {uniq2}"),        # boiler dup -> only uniq2
            (3, boiler),                     # fully duplicated -> ''
            (4, None),                       # NULL doc keeps its row
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(docs, chunk_tokens=4).collect()
    }
    assert out[1]["dedup_text"] == f"{uniq1} {boiler}"
    assert (out[1]["n_chunks"], out[1]["kept_chunks"]) == (2, 2)
    assert out[2]["dedup_text"] == uniq2
    assert (out[2]["n_chunks"], out[2]["kept_chunks"]) == (2, 1)
    assert out[3]["dedup_text"] == ""
    assert (out[3]["n_chunks"], out[3]["kept_chunks"]) == (1, 0)
    assert out[4]["dedup_text"] == ""
    assert (out[4]["n_chunks"], out[4]["kept_chunks"]) == (0, 0)


def test_chunk_dedup_dedupes_self_repetition_within_one_doc(spark):
    from feature_store_spark.llm.dedup import chunk_dedup

    span = " ".join(f"s{i}" for i in range(4))
    docs = spark.createDataFrame(
        [(1, f"{span} {span} {span}")], "doc_id bigint, text string"
    )
    r = chunk_dedup(docs, chunk_tokens=4).collect()[0]
    assert (r["n_chunks"], r["kept_chunks"]) == (3, 1)
    assert r["dedup_text"] == span


def test_pagerank_star_graph_semantics(spark):
    """Analytic sanity on a 5-node bidirectional star: the hub
    receives every spoke's full mass while each spoke gets back only
    a quarter of the hub's, so the hub ranks strictly highest at
    every iteration count (a one-directional star oscillates with
    period 2 — the damped power iteration hasn't converged in 8
    rounds, which is itself a property worth knowing); symmetric
    spokes tie EXACTLY in integer mass; floor losses only ever shrink
    total mass below the scale."""
    from feature_store_spark.operators.graph import PR_SCALE, pagerank

    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(0, i) for i in range(1, 5)],
        "src bigint, dst bigint",
    )
    for n_iter in (1, 4, 8):
        out = {
            r["node"]: r["rank_q"]
            for r in pagerank(edges, n_iter=n_iter).collect()
        }
        assert len(out) == 5
        assert out[0] == max(out.values()) and out[0] > out[1], n_iter
        assert out[1] == out[2] == out[3] == out[4], n_iter
        assert sum(out.values()) <= PR_SCALE
    # n_iter=0 returns the uniform initialization
    uniform = {
        r["node"]: r["rank_q"]
        for r in pagerank(edges, n_iter=0).collect()
    }
    assert set(uniform.values()) == {PR_SCALE // 5}


def test_rrf_rewards_cross_source_agreement(spark):
    """RRF semantics on a hand-built pair of rankings: a doc ranked
    mid-list by BOTH sources beats a doc ranked first by only one
    (1/61+1/63 > 1/61), and the fused scores are the exact decimal
    sums."""
    from feature_store_spark.llm.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3)],
        "query_id string, doc_id bigint, rank int",
    )
    sem = spark.createDataFrame(
        [("q", 20, 1), ("q", 40, 2), ("q", 30, 3)],
        "query_id string, doc_id bigint, rank int",
    )
    out = {r["doc_id"]: r for r in rrf_fuse([lex, sem], k=10).collect()}
    assert out[20]["n_sources"] == 2 and out[20]["rank"] == 1
    assert out[30]["n_sources"] == 2 and out[30]["rank"] == 2
    # doc 10: single-source first place loses to dual mid-list
    assert out[10]["rank"] > out[30]["rank"]
    assert abs(out[20]["rrf_score"] - (1 / 61 + 1 / 62)) < 1e-9
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], k=5)


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    """Personalized PR on a 2-component graph (chain 0→1→2 and chain
    10→11) with seed {0}: mass reaches only the seed's component —
    nodes 10/11 end at EXACTLY zero (no uniform teleport); the seed
    holds the most mass; duplicates/empty seed lists raise. A Python
    replica of the exact arithmetic pins every value."""
    from feature_store_spark.operators.graph import PR_SCALE, pagerank

    edges = [(0, 1), (1, 2), (10, 11)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {
        r["node"]: r["rank_q"]
        for r in pagerank(df, n_iter=4, seeds=[0]).collect()
    }
    assert set(out) == {0, 1, 2, 10, 11}
    assert out[10] == 0 and out[11] == 0
    assert out[0] == max(out.values())
    assert out[1] > out[2] > 0

    # exact replica
    from collections import Counter

    nodes = [0, 1, 2, 10, 11]
    base = PR_SCALE // 1
    outdeg = Counter(a for a, _ in edges)
    r = {v: (base if v == 0 else 0) for v in nodes}
    tp = {v: ((15 * base) // 100 if v == 0 else 0) for v in nodes}
    for _ in range(4):
        agg = Counter()
        for a, b in edges:
            agg[b] += r[a] // outdeg[a]
        r = {v: tp[v] + (85 * agg.get(v, 0)) // 100 for v in nodes}
    assert out == r

    # a seed OUTSIDE the edge set is a dangling node that still holds
    # its teleport mass
    out2 = {
        r2["node"]: r2["rank_q"]
        for r2 in pagerank(df, n_iter=2, seeds=[99]).collect()
    }
    assert out2[99] > 0 and set(out2) == {0, 1, 2, 10, 11, 99}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        pagerank(df, seeds=[])
    with _pytest.raises(ValueError, match="duplicates"):
        pagerank(df, seeds=[0, 0])


def test_gap_fill_ffill_and_zero_modes(spark):
    """gap_fill: zero mode plants 0 on synthetic days, ffill carries
    the previous observation; per-key spans never bleed into each
    other; single-day keys emit exactly their one row."""
    import datetime

    from feature_store_spark.operators.windows import gap_fill

    d = datetime.date
    df = spark.createDataFrame(
        [
            (1, d(2024, 1, 1), 10),
            (1, d(2024, 1, 4), 40),
            (2, d(2024, 2, 1), 5),
        ],
        "k bigint, day date, v bigint",
    )
    zero = {
        (r["k"], r["day"].isoformat()): (r["v"], r["is_filled"])
        for r in gap_fill(df, "k", "day", ["v"]).collect()
    }
    assert zero == {
        (1, "2024-01-01"): (10, False),
        (1, "2024-01-02"): (0, True),
        (1, "2024-01-03"): (0, True),
        (1, "2024-01-04"): (40, False),
        (2, "2024-02-01"): (5, False),
    }
    ff = {
        (r["k"], r["day"].isoformat()): r["v"]
        for r in gap_fill(df, "k", "day", ["v"], fill="ffill").collect()
    }
    assert ff[(1, "2024-01-02")] == 10 and ff[(1, "2024-01-03")] == 10
    assert ff[(1, "2024-01-04")] == 40

    import pytest as _pytest

    with _pytest.raises(ValueError, match="zero.*ffill"):
        gap_fill(df, "k", "day", ["v"], fill="bogus")


def test_gap_fill_zero_is_typed_and_rejects_non_numeric(spark):
    """ADVICE r7: fill='zero' must not narrow a decimal value column
    (bare int literal) and must refuse non-numeric value columns with
    a targeted error instead of a silent cast/analysis failure."""
    import datetime
    from decimal import Decimal

    from feature_store_spark.operators.windows import gap_fill

    d = datetime.date
    dec = spark.createDataFrame(
        [(1, d(2024, 1, 1), Decimal("10.50")), (1, d(2024, 1, 3), Decimal("2.25"))],
        "k bigint, day date, v decimal(10,2)",
    )
    out = gap_fill(dec, "k", "day", ["v"])
    assert out.schema["v"].dataType.simpleString() == "decimal(10,2)"
    vals = {r["day"].isoformat(): r["v"] for r in out.collect()}
    assert vals["2024-01-02"] == Decimal("0.00")

    txt = spark.createDataFrame(
        [(1, d(2024, 1, 1), "a"), (1, d(2024, 1, 3), "b")],
        "k bigint, day date, v string",
    )
    with pytest.raises(ValueError, match="numeric"):
        gap_fill(txt, "k", "day", ["v"])
    # non-numeric columns are fine under ffill
    ff = {r["day"].isoformat(): r["v"]
          for r in gap_fill(txt, "k", "day", ["v"], fill="ffill").collect()}
    assert ff == {"2024-01-01": "a", "2024-01-02": "a", "2024-01-03": "b"}


def test_input_bytes_probes_partitioned_dir_before_flat_file(tmp_path):
    """The adaptive-checkpoint size probe must see a `<sf_dir>/<name>`
    partitioned table root (the layout load_flat_table reads first),
    not only the flat `<name>.parquet` file."""
    from feature_store_spark.queries_quality import _input_bytes

    part = tmp_path / "orders" / "o_month=2024-01"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 300)
    (tmp_path / "orders.parquet").write_bytes(b"y" * 7)
    assert _input_bytes(str(tmp_path), "orders") == 300
    (tmp_path / "lineitem.parquet").write_bytes(b"z" * 11)
    assert _input_bytes(str(tmp_path), "lineitem") == 11
    assert _input_bytes(str(tmp_path), "missing") == 0
