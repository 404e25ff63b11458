"""Physical-plan regression tests: the scale properties SURVEY §7.4
requires are asserted on the actual executed plans, so a refactor that
silently loses pushdown, broadcasts, or adds a cartesian product fails
CI — not the 100 TB run.
"""

from __future__ import annotations

import pytest

from feature_store_spark.queries import SPECS, all_queries

all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = SPECS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_scan_time_predicate")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_scan_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s1_scan_time_predicate")
    # 4-column projection must reach the parquet reader, not post-scan
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint" in plan


def test_point_lookup_pushes_key_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "s2_point_lookup")
    assert "EqualTo(c_custkey,42)" in plan


def test_user_features_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pipeline_user_features")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "pipeline_user_features",
        "pipeline_transaction_features",
        "pipeline_risk_features",
        "pipeline_serving_join",
        "d_minhash_lsh_pairs",
        "d_ngram_jaccard_pairs",
        "st5_velocity_features",
    ],
)
def test_no_unbounded_cross_products(spark, sf_dir, name):
    """Cross joins are allowed only against broadcast 1-row/k-row
    aggregates (stats, anchors, query vectors); a CartesianProduct
    node means a non-broadcast cross product slipped in."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_serving_join_fused_scan_counts(spark, sf_dir):
    """serving_features derives uf+tf+rf with ONE aggregation pass per
    fact table (composing the three pipelines would scan orders 7x,
    lineitem 2x, events 3x). Orders legitimately appears twice: the
    wide (custkey, priority) aggregate plus the narrow
    (orderkey, custkey, orderdate) join side under the lineitem join —
    anything beyond that means the fusion regressed to per-pipeline
    derivation."""
    plan = _plan(spark, sf_dir, "pipeline_serving_join")
    scans = [ln for ln in plan.splitlines() if "Scan" in ln]
    counts = {
        t: sum(t in ln for ln in scans)
        for t in ("orders", "lineitem", "events", "customer")
    }
    assert counts["orders"] <= 2, counts
    assert counts["lineitem"] == 1, counts
    assert counts["events"] == 1, counts
    assert counts["customer"] == 1, counts


def test_stats_outlier_uses_broadcast_not_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a7_stats_outliers")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_minhash_plan_stays_compact(spark, sf_dir):
    """Band generation must be one stack() pass (a union formulation
    re-evaluates the signature subtree per band — caught at sf0.1 as a
    12-scan plan), candidate pairing must be collect_list + explode
    (a bucket self-join doubles the signature subtree), and
    verification reads the shingle sets once per join side: ≤3 scans
    total. Since round 10 the headline runs materialize_sets=True —
    the shingle pass lands in ONE lazily checkpointed aggregate and
    every branch reads the materialized rows, so the visible plan
    carries ZERO parquet scans (they live in the checkpoint lineage);
    the bound still guards the un-materialized default."""
    plan = _plan(spark, sf_dir, "d_minhash_lsh_pairs")
    assert plan.count("FileScan") <= 3


def test_simhash_near_dup_single_scan(spark, sf_dir):
    """In-bucket pairing via collect_list + double explode keeps the
    whole near-dup plan at ONE scan of documents — a bucket self-join
    would evaluate the signature subtree (and its scan) twice."""
    plan = _plan(spark, sf_dir, "d_simhash_near_dup")
    assert plan.count("FileScan") == 1


def test_ngram_jaccard_two_scans(spark, sf_dir):
    """Set sizes ride a window over the same shingle pass: two scans
    (one per join side), not three (a separate sizes aggregate)."""
    plan = _plan(spark, sf_dir, "d_ngram_jaccard_pairs")
    assert plan.count("FileScan") <= 2


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """The SCALE.md co-location claim, executed: two tables written
    bucketBy the join key produce a sort-merge join with NO Exchange
    on either side — the 100 TB co-located-join layout."""
    from pyspark.sql import functions as F

    from feature_store_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so the assertion tests bucket layout, not broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (
            orders.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", str(tmp_path / "o"))
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            customer.write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .option("path", str(tmp_path / "c"))
            .mode("overwrite")
            .saveAsTable("b_customer")
        )
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_store_serving_join_no_exchange(spark, sf_dir):
    """The materialized feature-store serving path: all three feature
    tables are bucketed+sorted by user_id, so the uf ⟕ tf ⟕ rf serving
    join runs with ZERO Exchange and ZERO Sort — the request-path shape
    that at 100 TB replaces re-shuffling three feature tables per
    serving batch with a map-side merge."""
    from feature_store_spark.pipelines.store import serving_from_store

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.enabled",
            "spark.sql.legacy.bucketedTableScan.outputOrdering",
        )
    }
    try:
        # force non-broadcast so the assertion tests the bucket layout;
        # the sorted-bucket scan (1 file/bucket) is honored only with
        # the outputOrdering flag on and AQE off
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        df = serving_from_store(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # bucketed sortBy makes even the SMJ sort-free
        assert "+- Sort" not in plan
        assert df.count() > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_shingle_regex_not_inlined(spark, sf_dir):
    """The tokenizer regex must be materialized BEFORE the shingling
    lambda (SCALE.md §4.1): if CollapseProject merges them, the regex
    re-runs per shingle (O(tokens²) interpreted — >100× on long docs).
    The repartition between the two projections is the barrier; this
    pins it by asserting no optimized-plan line evaluates
    regexp_extract_all inside a transform() lambda."""
    from feature_store_spark.llm.text import shingles
    from feature_store_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        shingles(docs, n=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    bad = [
        line
        for line in plan.splitlines()
        if "regexp_extract_all" in line and "transform(" in line
    ]
    assert not bad, bad


def test_text_stats_tokenizes_once(spark, sf_dir):
    """text_stats derives four stats from the token array; without the
    rand-column projection barrier CollapseProject duplicates the
    tokenize regex into every consumer (measured 0.33 s -> 0.25 s at
    sf0.1, ~1.5 s on a 50k-doc corpus). Pin: exactly one
    regexp_extract_all of TOKEN_RE in the executed plan."""
    from feature_store_spark.llm.text import TOKEN_RE, text_stats
    from feature_store_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        text_stats(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count(TOKEN_RE) == 1, plan


def test_hll_merge_is_lossless(spark, sf_dir):
    """Mergeability property behind a16: union-merging per-day HLL
    partials yields EXACTLY the estimate of one sketch built over the
    raw rows — the guarantee that lets a 100 TB rollup store daily
    sketches and never rescan raw data."""
    from pyspark.sql import functions as F

    from feature_store_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    merged = (
        ev.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .collect()[0]["est"]
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    ).collect()[0]["est"]
    assert merged == direct


def test_warehouse_join_uses_dynamic_partition_pruning(
    spark, sf_dir, tmp_path
):
    """Joining a hive date-partitioned fact (the warehouse's
    ``partition_date`` layout as a plain ``partitionBy`` directory)
    against a filtered dim must inject a DynamicPruningExpression into
    the scan's partition filters — at 100 TB this is the difference
    between reading one day's files and reading every partition. (The
    engine's own warehouse is a manifest table and prunes date leaves
    through ``read_table(partition_values=/where=)`` instead.)

    The dim filter must be a comparison predicate: the
    PartitionPruning rule only fires for build sides whose filter is
    "likely selective" (EqualTo/In/etc.), and a bare boolean
    attribute does not qualify."""
    import datetime

    from pyspark.sql import functions as F

    from feature_store_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1995-03-01")
    )
    orders.withColumn(
        "partition_date", F.to_date("o_orderdate")
    ).write.partitionBy("partition_date").parquet(str(tmp_path / "wh"))
    fact = spark.read.parquet(str(tmp_path / "wh"))
    some_day = fact.select(F.min("partition_date")).collect()[0][0]
    dim = spark.createDataFrame(
        [
            (some_day + datetime.timedelta(days=i), "hot" if i == 0 else "cold")
            for i in range(10)
        ],
        "partition_date date, temp string",
    )
    j = fact.join(dim.filter(F.col("temp") == "hot"), "partition_date")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert j.count() > 0


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, sf_dir):
    """Runtime row-level filtering for non-partition join keys: a
    selective dim filter must inject a bloom-filter `might_contain`
    probe into the fact scan before the shuffle. At 100 TB this fires
    with stock thresholds (fact side >10 GB); fixtures are below the
    application-side threshold, so the test lowers it to pin the
    mechanism, and forces a shuffle join since broadcast joins don't
    need the filter."""
    from pyspark.sql import functions as F

    from feature_store_spark.tables import load_table

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_incremental_lsh_broadcasts_batch_postings(spark, sf_dir):
    """The continuous-ingest dedup probe must broadcast the (small)
    batch band postings against the stored corpus index — a shuffle of
    the corpus postings per ingest batch would be O(corpus) per batch.
    """
    from pyspark.sql import functions as F

    from feature_store_spark.llm.dedup import lsh_index, minhash_lsh_incremental
    from feature_store_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    postings, sets = lsh_index(docs.filter(F.col("doc_id") < 400))
    out = minhash_lsh_incremental(
        docs.filter(F.col("doc_id") >= 400), postings, sets
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_knn_graph_two_scans_hot_sized(spark, sf_dir):
    """The tiled-by-default kNN headline (round 10) reads embeddings
    exactly TWICE: the full-data pairing scan plus the narrow
    hot-bucket counts pass, whose output is BROADCAST (hot buckets
    are ≤ n/max_bucket_size rows by construction — a shuffled join
    against per-bucket counts would re-exchange the corpus). A third
    scan would mean the pairing subtree is evaluated twice — the
    bucket-self-join shape this pin has always excluded."""
    plan = _plan(spark, sf_dir, "sim_knn_graph")
    assert plan.count("FileScan") == 2
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_single_signature_scan(spark, sf_dir):
    """Same single-scan contract for semantic_dedup: the self-pair
    carrier row lets the keep/drop verdict come out of the pair
    aggregate directly — no second scan to re-attach kept vectors."""
    plan = _plan(spark, sf_dir, "d_semantic_dedup")
    assert plan.count("FileScan") == 1


def test_priority_sample_uses_take_ordered(spark, sf_dir):
    # the global top-(k+1) must be heap-based TakeOrderedAndProject —
    # a full Sort + Exchange would shuffle every loser row at scale
    plan = _plan(spark, sf_dir, "o7_priority_sample")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 1  # only the k+1-row window pass


def test_vocab_coverage_take_ordered_top_n(spark, sf_dir):
    plan = _plan(spark, sf_dir, "t_vocab_coverage")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total, broadcast
    assert "CartesianProduct" not in plan


def test_repetition_stats_single_shuffle_single_scan(spark, sf_dir):
    # every metric is a per-row fold over the document's own gram
    # arrays (run-length max over the sorted array) — no exploded
    # gram stream, no aggregate stages, no Join; the one Exchange is
    # the deliberate raw-doc repartition that decouples the CPU-bound
    # folds from input-split granularity
    plan = _plan(spark, sf_dir, "pt_repetition_stats")
    assert plan.count("Exchange") == 1
    assert plan.count("Scan ") + plan.count("FileScan") <= 2  # 1 scan node
    assert "Join" not in plan
    assert "Generate" not in plan  # the old explode is gone


def test_dup_span_single_gram_shuffle(spark, sf_dir):
    # posting stream must be shuffled ONCE on the gram key (window
    # count), not twice (groupBy + join back); remaining exchanges are
    # the doc-keyed tokenize barrier and the small dup-starts window
    plan = _plan(spark, sf_dir, "pt_dup_span_stats")
    assert plan.count("hashpartitioning(__g") == 1
    assert "SortMergeJoin" not in plan


def test_decayed_features_single_shuffle_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a20_decayed_features")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_scd2_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "w8_scd2_history")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_feature_scaling_single_scan_stats_broadcast(spark, sf_dir):
    # the moments aggregate must come back as a broadcast, and the
    # projection pass must not shuffle the fact table
    plan = _plan(spark, sf_dir, "a22_feature_scaling")
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_window_scan_prunes_month_partitions(spark, sf_dir, tmp_path):
    """SCALE.md §8 trap, engine-wired (round-3): over a
    month-partitioned store, the tf derivation's trailing-window scans
    must carry non-empty PartitionFilters (Spark cannot infer month
    bounds from the o_orderdate/l_shipdate predicates alone), and the
    output must be value-identical to the flat-fixture run. The
    full-history merchant-join side must NOT be pruned."""
    from feature_store_spark.oracle import value_hash
    from feature_store_spark.pipelines.features import (
        derive_transaction_features,
    )
    from feature_store_spark.tables import load_table, write_month_partitioned

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    write_month_partitioned(orders, str(tmp_path / "orders"), "o_orderdate")
    write_month_partitioned(
        lineitem, str(tmp_path / "lineitem"), "l_shipdate"
    )
    po = load_table(spark, str(tmp_path), "orders")
    pl = load_table(spark, str(tmp_path), "lineitem")
    assert "o_month" in po.columns and "l_month" in pl.columns

    flat = derive_transaction_features(orders, lineitem)
    part = derive_transaction_features(po, pl)

    plan = part._jdf.queryExecution().executedPlan().toString()
    # both window scans pruned; 31d/30d windows anchored at REF_DATE
    # 2001-08-01 imply the 2001-07 cut on both partition columns
    assert "PartitionFilters: [isnotnull(o_month" in plan
    assert "(o_month#" in plan and ">= 2001-07)" in plan
    assert "PartitionFilters: [isnotnull(l_month" in plan
    # the merchant join consumes ALL orders: at least one orders scan
    # must remain unpruned (empty PartitionFilters)
    assert "PartitionFilters: []" in plan

    assert flat.columns == part.columns
    h_flat = value_hash(flat.columns, [tuple(r) for r in flat.collect()])
    h_part = value_hash(part.columns, [tuple(r) for r in part.collect()])
    assert h_flat == h_part


def test_cdc_apply_feed_windowed_base_anti_joined(spark, sf_dir):
    # the change feed pays the latest-wins window EXACTLY ONCE, now
    # behind the round-10 lazy localCheckpoint (the winner table is
    # one narrow row per key, materialized once and consumed by both
    # the upsert branch and the anti-join key set — before r10 the
    # per-consumer pruning re-planned the feed subtree and scanned
    # the 4-leg synthesized feed twice: 8 scans, now 4). The window
    # is therefore INSIDE the checkpoint: the final plan shows the
    # ExistingRDD scans and ZERO additional Window nodes. The base is
    # touched by a single LeftAnti join (broadcast here — the batch's
    # key set is small); no cartesian anywhere.
    plan = _plan(spark, sf_dir, "s12_cdc_apply")
    assert plan.count("Window [") == 0
    assert "Scan ExistingRDD" in plan
    assert plan.count("LeftAnti") == 1
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_funnel_single_exchange_no_joins(spark, sf_dir):
    # the three stage anchors are chained conditional window-mins over
    # ONE user partitioning: a single Exchange, zero joins, zero
    # re-scans of events (the oracle's join-per-stage formulation
    # would shuffle the fact table once per stage)
    plan = _plan(spark, sf_dir, "w10_funnel_conversion")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert plan.count("FileScan") <= 1  # bucketed-catalog scan or flat


def test_skew_report_broadcasts_totals(spark, sf_dir):
    # per-key counts are map-side combined (partial_count under the
    # key exchange); the 1-row totals frame is BROADCAST back — the
    # data never shuffles a second time on a different key
    plan = _plan(spark, sf_dir, "a24_skew_report")
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the top-N cut is a distributed heap (TakeOrderedAndProject), NOT a
    # single-task global window over the full key-cardinality counts frame;
    # the rank window only ever sees the <= top_n cut rows
    assert "TakeOrderedAndProject" in plan


def test_bm25_broadcasts_query_terms_and_prunes_postings(spark, sf_dir):
    # the literal query-term table is broadcast into the postings
    # join, so only matching postings reach the scoring joins; no
    # cartesian, no sort-merge join anywhere
    plan = _plan(spark, sf_dir, "t_bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_negative_samples_dimension_sided_sort_only(spark, sf_dir):
    # the catalog index is the only global sort; the user side
    # explodes narrow slot rows and joins the broadcast catalog
    plan = _plan(spark, sf_dir, "o9_negative_samples")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_chunk_dedup_no_python_no_cartesian_bounded_shuffles(spark, sf_dir):
    # inverted-index shape: tokenize+chunk explode (scan-local), ONE
    # hash-window Exchange for first-occurrence, reassembly groupBy,
    # spine left join — no all-pairs, no Python in the row path
    plan = _plan(spark, sf_dir, "d_chunk_dedup")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") <= 2  # chunks pass + doc spine


def test_cohort_retention_single_scan_no_join(spark, sf_dir):
    # fused shape (round 10): groupBy(user) + explode feeds the cell
    # counts with NO user-keyed join, and the cohort sizes come from
    # the offset-0 cells via a per-cohort window over the tiny cell
    # rows — the old separate sizes branch cost a SECOND full events
    # scan (Catalyst pruned the shared per-user frame into two
    # different aggregates). One scan, zero joins of any kind.
    plan = _plan(spark, sf_dir, "w12_cohort_retention")
    assert plan.count("FileScan") <= 1
    assert "Join" not in plan
    assert plan.count("Window [") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ab_test_single_fact_pass_per_leg_no_python(spark, sf_dir):
    # ONE event scan (groupBy(user) with a conditional-max converter
    # flag — no second distinct, no user join), two-row aggregate, z
    # arithmetic on the two-row frame — no cartesian beyond the 1-row
    # broadcast explode, no Python
    plan = _plan(spark, sf_dir, "a27_ab_test_report")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_kmeans_assignment_single_scan_no_python(spark, sf_dir):
    # the final assignment plan: one scan of the quantized corpus, k
    # JVM-side aggregate expressions, no joins (centers are literals),
    # no Python in the row path
    plan = _plan(spark, sf_dir, "emb_kmeans_clusters")
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1


def test_gap_fill_no_join_two_exchanges(spark, sf_dir):
    # join-free densification: the (user, day) aggregate + the per-user
    # lead window; the explode IS the gap emission (one Generate)
    plan = _plan(spark, sf_dir, "w13_gap_fill")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2
    assert plan.count("Generate") == 1


def test_event_transitions_no_join(spark, sf_dir):
    # one event-stream exchange (per-user window); the remaining
    # exchanges move only the |event types|^2 transition matrix
    plan = _plan(spark, sf_dir, "w14_event_transitions")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3


def test_behavior_entropy_single_user_shuffle_no_join(spark, sf_dir):
    # (user, type) counts + per-user window; the final per-user fold
    # reuses the window's user exchange — no join back, no third pass
    plan = _plan(spark, sf_dir, "a30_behavior_entropy")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


def test_driver_side_frames_scan_local_tables(spark, tmp_path, monkeypatch):
    """The serving batch lookup and a partitioned upsert broadcast
    their driver-side frames (lookup keys, partition→token map) from a
    LocalTableScan — never a Python RDD (``Scan ExistingRDD``), which
    forks Python workers on every call."""
    import datetime

    from pyspark.sql.classic.dataframe import DataFrame

    from feature_store_spark.pipelines import txn
    from feature_store_spark.serving.store import FeatureStore
    from feature_store_spark.session import local_frame

    plans = []

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    collect = DataFrame.collect

    def spy_collect(self):
        plans.append(executed(self))
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    users = spark.range(50).selectExpr("id AS user_id", "id * 2 AS score")
    store = FeatureStore({"user": users})
    assert len(store.get_batch_features([3, 7, 99], ["user"])) == 3
    (lookup,) = plans
    assert "LocalTableScan" in lookup and "ExistingRDD" not in lookup, lookup

    write_leaves = txn._write_leaves
    written = []

    def spy_write(root, phys, pcol, rows, out):
        written.append(executed(rows))
        return write_leaves(root, phys, pcol, rows, out)

    monkeypatch.setattr(txn, "_write_leaves", spy_write)
    d = datetime.date(2024, 1, 1)
    updates = local_frame(
        spark,
        [(1, 1, d), (2, 1, d + datetime.timedelta(days=1))],
        "user_id long, ts long, p date",
    )
    root = str(tmp_path / "t")
    txn.upsert_manifest_partitioned(updates, root, ["user_id"], "ts", "p")
    txn.upsert_manifest_partitioned(updates, root, ["user_id"], "ts", "p")
    assert len(written) == 2
    for plan in written:
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
