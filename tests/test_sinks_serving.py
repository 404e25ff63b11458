"""Tests for the offline store's keyed merge (S6 upsert idempotency),
the warehouse export (S7 partitioned export), S11 generator
determinism and the serving layer (SV1-SV5)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from feature_store_spark.pipelines.sinks import (
    export_warehouse,
    generate_synthetic_orders,
    generate_synthetic_users,
)
from feature_store_spark.pipelines.txn import (
    read_table,
    resolve_partitions,
    upsert_manifest,
    upsert_manifest_partitioned,
)
from feature_store_spark.serving import FeatureStore
from feature_store_spark.tables import load_table


def _data_dirs(path: str) -> set:
    """The data dirs under a manifest table's root."""
    data = os.path.join(path, "data")
    return set(os.listdir(data)) if os.path.isdir(data) else set()


# ---------------------------------------------------------------------------
# S6 upsert
# ---------------------------------------------------------------------------


def test_upsert_creates_then_merges(spark, tmp_path):
    path = str(tmp_path / "feat")
    v1 = spark.createDataFrame(
        [(1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-01")],
        "user_id long, score double, updated_at string",
    )
    assert upsert_manifest(v1, path, ["user_id"], "updated_at") == 2
    # update user 2, insert user 3
    v2 = spark.createDataFrame(
        [(2, 99.0, "2024-01-02"), (3, 30.0, "2024-01-02")],
        "user_id long, score double, updated_at string",
    )
    assert upsert_manifest(v2, path, ["user_id"], "updated_at") == 3
    rows = {
        r["user_id"]: r["score"]
        for r in read_table(spark, path)[0].collect()
    }
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0}


def test_upsert_idempotent_and_last_writer_wins(spark, tmp_path):
    path = str(tmp_path / "feat2")
    v2 = spark.createDataFrame(
        [(1, 1.0, "2024-01-02")], "user_id long, score double, updated_at string"
    )
    upsert_manifest(v2, path, ["user_id"], "updated_at")
    # replay the same batch → no change
    assert upsert_manifest(v2, path, ["user_id"], "updated_at") == 1
    # older update must NOT overwrite newer state
    v1 = spark.createDataFrame(
        [(1, 777.0, "2024-01-01")],
        "user_id long, score double, updated_at string",
    )
    upsert_manifest(v1, path, ["user_id"], "updated_at")
    assert read_table(spark, path)[0].collect()[0]["score"] == 1.0


# ---------------------------------------------------------------------------
# S7/S8 export
# ---------------------------------------------------------------------------


def test_export_partitioned_and_pruned(spark, sf_dir, tmp_path):
    path = str(tmp_path / "wh")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").alias("updated_at")
    )
    export_warehouse(ev, path, date_col="updated_at", cluster_col="user_id")
    out, v = read_table(spark, path)
    assert out.count() == ev.count()
    assert "partition_date" in out.columns
    # partition pruning: a date read lists and scans only its own leaf
    days = resolve_partitions(path, v)
    assert len(days) > 1
    one_day = sorted(days)[0]
    pruned, _ = read_table(spark, path, partition_values=[one_day])
    leaf = days[one_day]["dir"]
    assert pruned.inputFiles()
    assert all(leaf in f for f in pruned.inputFiles())
    assert pruned.count() == out.filter(
        F.col("partition_date") == F.lit(one_day)
    ).count()


def test_export_retention_filter(spark, tmp_path):
    path = str(tmp_path / "wh2")
    df = spark.createDataFrame(
        [(1, "2001-08-01 00:00:00"), (2, "1990-01-01 00:00:00")],
        "user_id long, updated_at string",
    ).withColumn("updated_at", F.to_timestamp("updated_at"))
    export_warehouse(
        df, path, retention_days=730, ref_date="2001-08-01"
    )
    assert read_table(spark, path)[0].count() == 1  # 1990 row expired


# ---------------------------------------------------------------------------
# S11 generator
# ---------------------------------------------------------------------------


def test_generator_deterministic_and_valid(spark):
    a = generate_synthetic_users(spark, 500, seed=7).collect()
    b = generate_synthetic_users(spark, 500, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    ages = [r["age"] for r in a]
    assert min(ages) >= 18 and max(ages) <= 100
    segs = {r["segment"] for r in a}
    assert len(segs) == 5
    orders = generate_synthetic_orders(spark, 100, 5, seed=7)
    assert orders.count() == 500
    assert orders.filter(
        ~F.col("status").isin("completed", "pending", "declined")
    ).count() == 0


# ---------------------------------------------------------------------------
# Serving layer
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    from feature_store_spark.queries import all_queries

    qs = all_queries()
    uf = qs["pipeline_user_features"](spark, sf_dir).cache()
    tf = qs["pipeline_transaction_features"](spark, sf_dir).cache()
    rf = qs["pipeline_risk_features"](spark, sf_dir).cache()
    return FeatureStore({"user": uf, "transaction": tf, "risk": rf})


def test_point_lookup_and_cache(store):
    r1 = store.get_features(1, ["user"])
    assert not r1.cache_hit
    assert "user" in r1.features
    assert r1.features["user"]["user_id"] == 1
    r2 = store.get_features(1, ["user"])
    assert r2.cache_hit
    assert store.stats()["hits"] == 1


def test_all_types_hit_requires_every_type(store):
    # pick a user present in every feature group (missing groups are
    # not negative-cached, matching the reference's all-types-hit rule)
    uid = (
        store.feature_dfs["transaction"]
        .join(store.feature_dfs["risk"], "user_id", "inner")
        .select("user_id")
        .limit(1)
        .collect()[0][0]
    )
    store.invalidate(uid)
    r = store.get_features(uid)  # all three types
    assert not r.cache_hit
    assert set(r.features) == {"user", "transaction", "risk"}
    r2 = store.get_features(uid)
    assert r2.cache_hit  # now every type is cached


def test_batch_lookup_and_validation(store):
    ids = list(range(1, 31))
    rs = store.get_batch_features(ids, ["user"])
    assert len(rs) == 30
    assert all(r.features.get("user") is not None for r in rs)
    with pytest.raises(ValueError):
        store.get_batch_features(list(range(200)), ["user"])
    with pytest.raises(ValueError):
        store.get_features(1, ["nope"])


def test_ttl_expiry():
    import itertools

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame([(1, 5.0)], "user_id long, score double")
    clock = itertools.count(0, 4000).__next__  # +4000s per call (> TTL)
    fs = FeatureStore({"user": df}, ttl_seconds=3600, clock=clock)
    fs.get_features(1, ["user"])
    r = fs.get_features(1, ["user"])  # clock advanced beyond TTL
    assert not r.cache_hit


def test_invalidate_and_health(store):
    store.get_features(3, ["user"])
    assert store.invalidate(3) >= 1
    health = store.health()
    assert set(health) == {"user", "transaction", "risk"}
    assert all(health.values())


def test_partitioned_upsert_rewrites_only_touched_partitions(
    spark, tmp_path
):
    """The 100 TB upsert: merging updates for one snap_date must carry
    every other partition's leaf forward unchanged (same directory,
    files untouched on disk), while merging last-writer-wins inside
    the touched partition."""
    import os

    path = str(tmp_path / "snap")
    v1 = spark.createDataFrame(
        [
            (1, 10.0, "t1", "2024-01-01"),
            (2, 20.0, "t1", "2024-01-01"),
            (1, 11.0, "t1", "2024-01-02"),
            (3, 30.0, "t1", "2024-01-02"),
        ],
        "user_id long, score double, v string, snap_date string",
    )
    assert (
        upsert_manifest_partitioned(
            v1, path, ["user_id"], "v", "snap_date"
        )
        == 4
    )
    leaf1 = resolve_partitions(path, 1)["2024-01-01"]

    def files(leaf):
        d = os.path.join(path, leaf["dir"])
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    before_day1 = files(leaf1)
    # update user 3, insert user 4 — only the 01-02 snapshot touched
    v2 = spark.createDataFrame(
        [
            (3, 99.0, "t2", "2024-01-02"),
            (4, 40.0, "t2", "2024-01-02"),
        ],
        "user_id long, score double, v string, snap_date string",
    )
    # the committed table: users 1,2 on 01-01 and 1,3,4 on 01-02
    assert (
        upsert_manifest_partitioned(
            v2, path, ["user_id"], "v", "snap_date"
        )
        == 5
    )
    assert resolve_partitions(path, 2)["2024-01-01"] == leaf1
    assert files(leaf1) == before_day1  # untouched on disk
    out, _ = read_table(spark, path)
    assert out.count() == 5
    day2 = {
        r["user_id"]: r["score"]
        for r in out.filter("snap_date = '2024-01-02'").collect()
    }
    assert day2 == {1: 11.0, 3: 99.0, 4: 40.0}
    # same-key rows in other snapshots untouched (history preserved)
    day1 = {
        r["user_id"]: r["score"]
        for r in out.filter("snap_date = '2024-01-01'").collect()
    }
    assert day1 == {1: 10.0, 2: 20.0}


def test_generator_status_distribution(spark):
    """Regression: two textually identical rand(seed) instances in one
    CASE desynchronized under lazy branch evaluation, collapsing the
    declined rate ~7x below the designed 5%."""
    orders = generate_synthetic_orders(spark, 4000, 5, seed=7)
    n = orders.count()
    frac = {
        r["status"]: r["cnt"] / n
        for r in orders.groupBy("status")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert abs(frac["completed"] - 0.85) < 0.02
    assert abs(frac["pending"] - 0.10) < 0.02
    assert abs(frac["declined"] - 0.05) < 0.02


def test_upsert_same_timestamp_update_wins(spark, tmp_path):
    """Regression: with equal order_col values the merge kept an
    arbitrary row; the update side must win (same-ref_date re-run
    after an upstream fix)."""
    path = str(tmp_path / "tie")
    v1 = spark.createDataFrame(
        [(u, 1.0, "2024-01-01") for u in range(50)],
        "user_id long, score double, updated_at string",
    )
    upsert_manifest(v1, path, ["user_id"], "updated_at")
    fixed = spark.createDataFrame(
        [(u, 2.0, "2024-01-01") for u in range(50)],
        "user_id long, score double, updated_at string",
    )
    upsert_manifest(fixed, path, ["user_id"], "updated_at")
    scores = {r["score"] for r in read_table(spark, path)[0].collect()}
    assert scores == {2.0}


def test_batch_lookups_counted_in_stats(spark, sf_dir):
    from feature_store_spark.queries import all_queries

    qs = all_queries()
    uf = qs["pipeline_user_features"](spark, sf_dir)
    s = FeatureStore({"user": uf})
    ids = [r["user_id"] for r in uf.limit(3).collect()]
    s.get_batch_features(ids)          # all misses
    s.get_batch_features(ids)          # all hits
    st = s.stats()
    assert st["hits"] == len(ids)
    assert st["misses"] == len(ids)
    assert st["hit_ratio"] == 0.5


def test_health_reports_broken_store(spark, tmp_path):
    """Regression: health() was vacuously True and raised on a broken
    store instead of reporting it."""
    import shutil

    p = str(tmp_path / "h")
    spark.range(5).selectExpr("id as user_id").write.parquet(p)
    df = spark.read.parquet(p)
    s = FeatureStore({"user": df})
    assert s.health() == {"user": True}
    shutil.rmtree(p)
    assert s.health() == {"user": False}


def test_partitioned_upsert_rejects_null_partition(spark, tmp_path):
    """A NULL partition value has no leaf to merge into — refused,
    and the refused batch publishes nothing."""
    path = str(tmp_path / "snap")
    v1 = spark.createDataFrame(
        [(1, 10.0, "t1", "2024-01-01")],
        "user_id long, score double, v string, snap_date string",
    )
    upsert_manifest_partitioned(v1, path, ["user_id"], "v", "snap_date")
    v2 = spark.createDataFrame(
        [(2, 20.0, "t2", None)],
        "user_id long, score double, v string, snap_date string",
    )
    dirs = _data_dirs(path)
    for mode in ("merge", "replace"):
        with pytest.raises(ValueError, match="NULL 'snap_date'"):
            upsert_manifest_partitioned(
                v2, path, ["user_id"], "v", "snap_date", mode=mode
            )
    assert set(resolve_partitions(path, 1)) == {"2024-01-01"}
    assert read_table(spark, path)[1] == 1
    assert _data_dirs(path) == dirs


def test_stats_with_outliers_empty_input_counts_zero(spark):
    """Empty-table parity with the a7 oracle: COUNT of nothing is 0
    (not NULL), outlier_count likewise; the moment stats stay NULL."""
    from feature_store_spark.operators.aggregates import (
        stats_with_outliers,
    )

    empty = spark.createDataFrame([], "o_totalprice double")
    row = stats_with_outliers(empty, "o_totalprice").collect()[0]
    assert row["count_value"] == 0
    assert row["outlier_count"] == 0
    assert row["mean_value"] is None


def test_preload_serves_point_lookups_with_zero_spark_jobs(spark, sf_dir):
    """SV1 hot path: after preload(), point lookups must never touch
    Spark — proven by poisoning feature_dfs (any attribute access on a
    miss would raise) and asserting all-hit stats."""
    from feature_store_spark.queries import all_queries

    uf = all_queries()["pipeline_user_features"](spark, sf_dir)
    fs = FeatureStore({"user": uf})
    n = fs.preload()
    assert n == uf.count() > 0

    class _Poisoned:
        def __getattr__(self, name):  # pragma: no cover - should not run
            raise AssertionError(
                f"Spark touched after preload (attribute {name})"
            )

    fs.feature_dfs = {"user": _Poisoned()}
    ids = [r["user_id"] for r in uf.select("user_id").limit(20).collect()]
    for u in ids:
        r = fs.get_features(u, ["user"])
        assert r.cache_hit and r.features["user"]["user_id"] == u
    assert fs.stats()["hits"] == len(ids) and fs.stats()["misses"] == 0
    # batch path is served from the same warm cache
    batch = fs.get_batch_features(ids[:10], ["user"])
    assert all(b.cache_hit for b in batch)


def test_preload_keyset_only_loads_requested_keys(spark, sf_dir):
    from feature_store_spark.queries import all_queries

    uf = all_queries()["pipeline_user_features"](spark, sf_dir)
    fs = FeatureStore({"user": uf})
    loaded = fs.preload(user_ids=[1, 2, 3])
    assert loaded == 3
    assert fs.get_features(1, ["user"]).cache_hit


def test_partitioned_upsert_preserves_string_partition_type(spark, tmp_path):
    """The partition column keeps the writer's type: a zero-padded
    string key like '00123' must stay the string '00123' (as the
    manifest's partition key and in the rows read back), never turn
    into the int 123."""
    path = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, 10.0, "2024-01-02", "00123"), (2, 20.0, "2024-01-02", "00456")],
        "user_id long, score double, updated_at string, snap string",
    )
    assert upsert_manifest_partitioned(
        v1, path, ["user_id"], "updated_at", "snap"
    ) == 2
    assert set(resolve_partitions(path, 1)) == {"00123", "00456"}
    back, _ = read_table(spark, path)
    assert dict(back.dtypes)["snap"] == "string"
    assert {r["snap"] for r in back.select("snap").collect()} == {
        "00123", "00456",
    }


def test_partitioned_upsert_empty_updates_is_noop(spark, tmp_path):
    path = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, 10.0, "2024-01-02", "a")],
        "user_id long, score double, updated_at string, snap string",
    )
    upsert_manifest_partitioned(v1, path, ["user_id"], "updated_at", "snap")
    dirs = _data_dirs(path)
    empty = v1.limit(0)
    for mode in ("merge", "replace"):
        assert upsert_manifest_partitioned(
            empty, path, ["user_id"], "updated_at", "snap", mode=mode
        ) == 0
    df, v = read_table(spark, path)
    assert v == 1 and df.count() == 1  # no commit for the empty batch
    assert _data_dirs(path) == dirs


def test_export_warehouse_refuses_null_dates(spark, tmp_path):
    from feature_store_spark.pipelines.sinks import export_warehouse

    df = spark.createDataFrame(
        [(1, "2024-01-02"), (2, None)], "user_id long, updated_at string"
    )
    with pytest.raises(ValueError, match="NULL/unparseable"):
        export_warehouse(df, str(tmp_path / "wh"))
    assert _data_dirs(str(tmp_path / "wh")) == set()


def test_export_warehouse_refuses_null_dates_under_retention(spark, tmp_path):
    """With ``ref_date`` set, the retention filter keeps NULL-date rows
    so the commit refuses them, rather than dropping them silently;
    nothing lands, on a fresh root or on an existing one."""
    from feature_store_spark.pipelines.sinks import export_warehouse
    from feature_store_spark.pipelines.txn import latest_version

    wh = str(tmp_path / "wh")
    good = spark.createDataFrame(
        [(1, "2024-01-02")], "user_id long, updated_at string"
    )
    bad = spark.createDataFrame(
        [(1, "2024-01-02"), (2, None)], "user_id long, updated_at string"
    )
    with pytest.raises(ValueError, match="NULL/unparseable 'updated_at'"):
        export_warehouse(bad, wh, ref_date="2024-01-02")
    assert latest_version(wh) == 0 and _data_dirs(wh) == set()
    assert export_warehouse(good, wh, ref_date="2024-01-02") == 1
    dirs = _data_dirs(wh)
    with pytest.raises(ValueError, match="NULL/unparseable 'updated_at'"):
        export_warehouse(bad, wh, ref_date="2024-01-02")
    assert latest_version(wh) == 1 and _data_dirs(wh) == dirs


def test_synthetic_users_layout_independent(spark):
    """Seeded synthetic data must be identical under different
    partition layouts (F.rand would differ: it seeds per partition
    index)."""
    from feature_store_spark.pipelines.sinks import generate_synthetic_users

    a = sorted(
        tuple(r) for r in generate_synthetic_users(spark, 300, seed=7)
        .repartition(1).collect()
    )
    b = sorted(
        tuple(r) for r in generate_synthetic_users(spark, 300, seed=7)
        .repartition(13).collect()
    )
    assert a == b


def test_cache_returns_fresh_copies_and_rejects_empty_type_list(spark, sf_dir):
    from feature_store_spark.queries import all_queries

    uf = all_queries()["pipeline_user_features"](spark, sf_dir)
    fs = FeatureStore({"user": uf})
    fs.preload(user_ids=[1])
    r1 = fs.get_features(1, ["user"])
    r1.features["user"]["total_orders"] = -999  # caller mutation
    r2 = fs.get_features(1, ["user"])
    assert r2.features["user"]["total_orders"] != -999
    with pytest.raises(ValueError, match="at least one feature type"):
        fs.get_features(1, [])
    with pytest.raises(ValueError, match="at least one feature type"):
        fs.get_batch_features([1, 2], [])


def _fragmented_table(spark, root, df, key):
    """Commit ``df`` as a flat manifest table written 32 files wide
    (static shuffle width, no AQE coalescing, and a round-robin input
    so the merge's key window really shuffles): a small-file table."""
    confs = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    prev = [spark.conf.get(k) for k in confs]
    spark.conf.set(confs[0], "false")
    spark.conf.set(confs[1], "32")
    try:
        upsert_manifest(df.repartition(32), root, [key], key)
    finally:
        for k, v in zip(confs, prev):
            spark.conf.set(k, v)


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    """Compacting a small-file table into one target-size file keeps
    every row and every exact sum."""
    from feature_store_spark.pipelines.txn import compact_manifest

    path = str(tmp_path / "frag")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 97).alias("k"),
        ((F.col("id") * 31) % 1000).alias("v"),
    )
    _fragmented_table(spark, path, df, "id")
    n_before = len(read_table(spark, path)[0].inputFiles())
    assert n_before >= 16

    report = compact_manifest(spark, path, target_file_bytes=10**9)
    assert report["files_before"] == n_before
    assert report["files_after"] == 1
    assert report["rows"] == 10_000

    after, v = read_table(spark, path)
    assert v == 2
    assert len(after.inputFiles()) == 1
    assert after.count() == 10_000
    # content identical (orderless)
    assert sorted(r["id"] for r in after.collect()) == list(range(10_000))
    # sums survive exactly
    s = after.agg(F.sum("v").alias("s")).collect()[0]["s"]
    assert s == sum((i * 31) % 1000 for i in range(10_000))


def test_compact_parquet_zorder_layout(spark, tmp_path):
    """OPTIMIZE ZORDER: the rewrite sorts by the Z-order key but
    stores no key column and no extra rows."""
    from feature_store_spark.pipelines.txn import compact_manifest

    path = str(tmp_path / "fragz")
    df = spark.range(5_000).select(
        F.col("id"),
        ((F.col("id") * 37) % 500).alias("a"),
        ((F.col("id") * 911 + 13) % 9000).alias("b"),
    )
    _fragmented_table(spark, path, df, "id")

    report = compact_manifest(
        spark, path, target_file_bytes=10**9, zorder_cols=["a", "b"]
    )
    assert report["files_after"] == 1 and report["rows"] == 5_000
    out, _ = read_table(spark, path)
    assert set(out.columns) == {"id", "a", "b"}  # layout key dropped
    assert out.count() == 5_000


def test_compact_parquet_missing_path_raises(spark, tmp_path):
    from feature_store_spark.pipelines.txn import compact_manifest

    with pytest.raises(ValueError, match="no committed versions"):
        compact_manifest(spark, str(tmp_path / "absent"))


def test_cdc_driven_cache_invalidation(spark, tmp_path):
    """ST2 over the table's own log: a manifest-table commit evicts
    exactly the changed users' cache entries via the CDC stream;
    unchanged users keep serving from cache with no Spark job."""
    from feature_store_spark.pipelines.txn import (
        merge_into,
        upsert_manifest,
    )
    from feature_store_spark.serving.store import (
        FeatureStore,
        refresh_serving_from_changes,
    )

    root = str(tmp_path / "feat")
    ckpt = str(tmp_path / "ckpt")
    upsert_manifest(
        spark.createDataFrame(
            [(1, 10.0, 1), (2, 20.0, 1)],
            "user_id bigint, score double, ts bigint",
        ),
        root, ["user_id"], "ts",
    )
    store = FeatureStore({"user": spark.createDataFrame(
        [], "user_id bigint, score double, ts bigint")})
    res = refresh_serving_from_changes(
        spark, store, root, ckpt, "user"
    )
    assert res["batches"] == 1
    # warm both users
    assert store.get_features(1, ["user"]).features["user"]["score"] == 10.0
    assert store.get_features(2, ["user"]).features["user"]["score"] == 20.0
    assert store.get_features(1, ["user"]).cache_hit

    # commit an update to user 1 only
    merge_into(
        spark, root,
        spark.createDataFrame([(1, 99.0)], "user_id bigint, score double"),
        ["user_id"],
        when_matched=[(None, {"score": "s.score"})],
    )
    res = refresh_serving_from_changes(
        spark, store, root, ckpt, "user"
    )
    assert res["batches"] == 1
    # user 1 evicted -> fresh value on a MISS; user 2 still cache-hit
    r1 = store.get_features(1, ["user"])
    assert not r1.cache_hit and r1.features["user"]["score"] == 99.0
    r2 = store.get_features(2, ["user"])
    assert r2.cache_hit and r2.features["user"]["score"] == 20.0

    # drained feed: nothing re-invalidated
    res = refresh_serving_from_changes(spark, store, root, ckpt, "user")
    assert res["batches"] == 0
    assert store.get_features(1, ["user"]).cache_hit


def test_cdc_driven_cache_invalidation_through_deletion_vectors(
    spark, tmp_path, job_budget
):
    """The merge-on-read twin of the test above: the update lands as a
    deletion vector over the old row plus an appended dir holding the
    new image, and the pinned miss reads through both on the driver,
    with no Spark job."""
    from feature_store_spark.pipelines.txn import (
        merge_into,
        read_manifest,
        upsert_manifest,
    )
    from feature_store_spark.serving.store import (
        FeatureStore,
        refresh_serving_from_changes,
    )

    root = str(tmp_path / "feat")
    ckpt = str(tmp_path / "ckpt")
    upsert_manifest(
        spark.createDataFrame(
            [(1, 10.0, 1), (2, 20.0, 1)],
            "user_id bigint, score double, ts bigint",
        ),
        root, ["user_id"], "ts",
    )
    store = FeatureStore({"user": spark.createDataFrame(
        [], "user_id bigint, score double, ts bigint")})
    res = refresh_serving_from_changes(spark, store, root, ckpt, "user")
    assert res["batches"] == 1
    assert store.get_features(1, ["user"]).features["user"]["score"] == 10.0
    assert store.get_features(2, ["user"]).features["user"]["score"] == 20.0
    assert store.get_features(1, ["user"]).cache_hit

    merge_into(
        spark, root,
        spark.createDataFrame([(1, 99.0)], "user_id bigint, score double"),
        ["user_id"],
        when_matched=[(None, {"score": "s.score"})],
        mode="dv",
    )
    m = read_manifest(root, 2)
    assert m.get("dv") and m.get("extra_dirs")
    res = refresh_serving_from_changes(spark, store, root, ckpt, "user")
    assert res["batches"] == 1
    r1, jobs = job_budget(lambda: store.get_features(1, ["user"]))
    assert not r1.cache_hit and r1.features["user"]["score"] == 99.0
    assert jobs == 0
    r2 = store.get_features(2, ["user"])
    assert r2.cache_hit and r2.features["user"]["score"] == 20.0

    res = refresh_serving_from_changes(spark, store, root, ckpt, "user")
    assert res["batches"] == 0
    assert store.get_features(1, ["user"]).cache_hit


def test_serving_job_budgets(spark, tmp_path, job_budget):
    """Cold reads of a pinned type run no Spark job (point miss, batch
    miss, preload); a frame the caller put in ``feature_dfs`` is read
    through Spark in one job; one refresh batch runs at most three.
    With broadcasting off (threshold -1) the pinned type is read
    through Spark too, with the same answers."""
    from feature_store_spark.pipelines.txn import read_table, upsert_manifest
    from feature_store_spark.serving.store import (
        FeatureStore,
        refresh_serving_from_changes,
    )

    root, ckpt = str(tmp_path / "feat"), str(tmp_path / "ckpt")
    ddl = "user_id bigint, score double, ts bigint"
    upsert_manifest(
        spark.createDataFrame([(u, u * 1.5, 1) for u in range(1, 9)], ddl),
        root, ["user_id"], "ts",
    )
    store = FeatureStore({"user": spark.createDataFrame([], ddl)})
    refresh_serving_from_changes(spark, store, root, ckpt, "user")

    r, jobs = job_budget(lambda: store.get_features(1, ["user"]))
    assert (jobs, r.features["user"]["score"]) == (0, 1.5)
    rs, jobs = job_budget(
        lambda: store.get_batch_features([2, 3, 99], ["user"])
    )
    assert jobs == 0
    assert [b.features.get("user", {}).get("score") for b in rs] == [
        3.0, 4.5, None]
    n, jobs = job_budget(lambda: store.preload(user_ids=[4, 5]))
    assert (n, jobs) == (2, 0)
    n, jobs = job_budget(store.preload)
    assert (n, jobs) == (8, 0)

    store._cache.clear()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        r, jobs = job_budget(lambda: store.get_features(6, ["user"]))
        assert jobs >= 1 and r.features["user"]["score"] == 9.0
    finally:
        spark.conf.set(key, prev)

    # a caller-supplied frame is always read through Spark
    store.feature_dfs["user"] = read_table(spark, root)[0]
    r, jobs = job_budget(lambda: store.get_features(7, ["user"]))
    assert r.features["user"]["score"] == 10.5 and jobs <= 1

    upsert_manifest(
        spark.createDataFrame([(8, 0.5, 2)], ddl), root, ["user_id"], "ts"
    )
    res, jobs = job_budget(
        lambda: refresh_serving_from_changes(spark, store, root, ckpt, "user")
    )
    assert res["batches"] == 1 and jobs <= 3
    r, jobs = job_budget(lambda: store.get_features(8, ["user"]))
    assert (jobs, r.features["user"]["score"]) == (0, 0.5)
