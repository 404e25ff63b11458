"""Tests for the pipeline drivers (SV6 daily batch, quality report,
migration validation)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from feature_store_spark.pipelines.drivers import (
    run_daily_pipeline,
    run_migration_validation,
    run_quality_report,
)
from feature_store_spark.pipelines.features import (
    derive_risk_features,
    derive_transaction_features,
    derive_user_features,
    serving_features,
    serving_join,
)
from feature_store_spark.pipelines.txn import latest_version, read_table
from feature_store_spark.tables import load_table


def test_fused_serving_equals_composition(spark, sf_dir):
    # serving_features (one scan per fact table) must be row-identical
    # to composing the three pipeline derivations through serving_join
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    composed = serving_join(
        derive_user_features(customer, orders),
        derive_transaction_features(orders, lineitem),
        derive_risk_features(customer, orders, lineitem, events),
    )
    fused = serving_features(customer, orders, lineitem, events)
    assert fused.columns == composed.columns
    assert fused.exceptAll(composed).count() == 0
    assert composed.exceptAll(fused).count() == 0


def test_daily_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "store")
    res = run_daily_pipeline(spark, sf_dir, out)
    assert res.status == "SUCCESS"
    assert res.counts["user_features"] > 0
    uf, _ = read_table(spark, f"{out}/user_features")
    assert uf.filter(F.col("updated_at").isNull()).count() == 0
    # idempotent: re-run changes nothing
    res2 = run_daily_pipeline(spark, sf_dir, out)
    assert res2.counts["user_features"] == res.counts["user_features"]
    assert sorted(map(tuple, read_table(spark, f"{out}/user_features")[0]
                      .collect())) == sorted(map(tuple, uf.collect()))
    wh, _ = read_table(spark, f"{out}/warehouse/serving_features")
    assert "partition_date" in wh.columns
    assert wh.count() == res.counts["warehouse_rows"]


def test_daily_pipeline_forwards_ref_date(spark, sf_dir, tmp_path):
    """Regression: run_daily_pipeline accepted ref_date but anchored
    the derivations at the module default, so backfills produced
    identical features for every date. The stored features must match
    a direct derivation at the SAME ref_date."""
    from feature_store_spark.pipelines.features import derive_user_features
    from feature_store_spark.tables import load_table

    other = "2001-05-01"
    out = str(tmp_path / "backfill")
    run_daily_pipeline(spark, sf_dir, out, ref_date=other)
    stored = read_table(spark, f"{out}/user_features")[0].drop("updated_at")
    direct = derive_user_features(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        ref_date=other,
    )
    assert stored.exceptAll(direct).isEmpty()
    assert direct.exceptAll(stored).isEmpty()
    # and the anchor actually matters at this fixture scale
    default = derive_user_features(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )
    assert not default.exceptAll(direct).isEmpty()


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_daily_jobs_carry_the_callers_job_group(
    spark, sf_dir, tmp_path, job_ids
):
    """The feature groups and quality scans run on worker threads; their
    jobs must still carry the caller's job group (``cancelJobGroup``
    and per-group accounting rely on it), so no job of these calls
    lands outside the group."""
    sc = spark.sparkContext
    ungrouped, grouped = job_ids(None), job_ids("daily-test")
    sc.setJobGroup("daily-test", "job group inheritance")
    try:
        run_daily_pipeline(spark, sf_dir, str(tmp_path / "store"))
        run_quality_report(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert job_ids(None) == ungrouped
    # at least one job per upsert: three groups and the export
    assert len(job_ids("daily-test") - grouped) >= 4


def test_daily_pipeline_failing_group_settles_then_raises(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One failing feature group: the run raises that group's own
    exception after the other groups have settled, leaves no worker
    thread behind and no half-written table, and a clean re-run lands
    exactly what a fresh run does."""
    from feature_store_spark.pipelines import drivers

    boom = RuntimeError("transaction derivation failed")

    def fail(*args, **kwargs):
        raise boom

    monkeypatch.setattr(drivers, "derive_transaction_features", fail)
    out, fresh = str(tmp_path / "store"), str(tmp_path / "fresh")
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError) as info:
        run_daily_pipeline(spark, sf_dir, out)
    assert info.value is boom
    assert set(threading.enumerate()) <= threads
    roots = (
        "user_features",
        "transaction_features",
        "risk_features",
        "warehouse/serving_features",
    )
    for kind in roots:
        if latest_version(f"{out}/{kind}"):
            assert read_table(spark, f"{out}/{kind}")[0].count() > 0
    assert latest_version(f"{out}/transaction_features") == 0
    assert latest_version(f"{out}/warehouse/serving_features") == 0

    monkeypatch.undo()
    assert run_daily_pipeline(spark, sf_dir, out).status == "SUCCESS"
    run_daily_pipeline(spark, sf_dir, fresh)
    for kind in roots:
        assert _rows(read_table(spark, f"{out}/{kind}")[0]) == _rows(
            read_table(spark, f"{fresh}/{kind}")[0]
        ), kind


def test_quality_report(spark, sf_dir):
    rep = run_quality_report(spark, sf_dir)
    assert set(rep) == {
        "freshness",
        "completeness",
        "anomaly",
        "alerts",
        "passed",
    }
    # fixture documents are fully populated → completeness 1.0
    assert all(v == 1.0 for v in rep["completeness"].values())
    assert rep["anomaly"]["outlier_count"] >= 0
    # events end 1 day before EVENTS_NOW → freshness alert expected
    assert isinstance(rep["alerts"], list)


def test_migration_validation_pass_and_fail(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    ok = run_migration_validation(spark, cust, cust, ["c_custkey"])
    assert ok["status"] == "SUCCESS"
    assert ok["counts_match"] and ok["duplicate_keys"] == 0

    broken = cust.limit(50).unionByName(cust.limit(10))  # dups + missing
    bad = run_migration_validation(spark, cust, broken, ["c_custkey"])
    assert bad["status"] == "FAILED"
    assert bad["duplicate_keys"] == 10
    assert bad["missing_in_target"] > 0


def test_point_in_time_training_set(spark, sf_dir, tmp_path):
    """Two daily runs produce two warehouse snapshots; an observation
    between them must be joined to the EARLIER snapshot only (no
    target leakage), one after sees the later, one before sees none."""
    from feature_store_spark.serving.training import (
        build_training_set,
        snapshot_coverage,
    )

    out = str(tmp_path / "store")
    r1 = run_daily_pipeline(spark, sf_dir, out, ref_date="2001-08-01")
    r2 = run_daily_pipeline(spark, sf_dir, out, ref_date="2001-08-15")
    assert r1.status == r2.status == "SUCCESS"
    warehouse, _ = read_table(spark, f"{out}/warehouse/serving_features")
    assert {
        r["partition_date"].isoformat()
        for r in warehouse.select("partition_date").distinct().collect()
    } == {"2001-08-01", "2001-08-15"}

    uid = warehouse.select(F.min("user_id").alias("u")).first()["u"]
    obs = spark.createDataFrame(
        [
            (uid, "2001-07-20", 0.0),  # predates all snapshots
            (uid, "2001-08-10", 1.0),  # between the two
            (uid, "2001-08-20", 0.0),  # after both
        ],
        "user_id bigint, obs_date string, label double",
    ).select("user_id", F.to_date("obs_date").alias("obs_date"), "label")

    ts = build_training_set(obs, warehouse)
    got = {
        r["obs_date"].isoformat(): (
            r["feature_snapshot_date"].isoformat()
            if r["feature_snapshot_date"]
            else None,
            r["total_orders"],
        )
        for r in ts.collect()
    }
    assert got["2001-07-20"][0] is None
    assert got["2001-07-20"][1] is None  # no future features leaked
    assert got["2001-08-10"][0] == "2001-08-01"
    assert got["2001-08-20"][0] == "2001-08-15"
    assert got["2001-08-10"][1] is not None

    cov = {
        (r["feature_snapshot_date"].isoformat() if r["feature_snapshot_date"] else None): r[
            "n_observations"
        ]
        for r in snapshot_coverage(ts).collect()
    }
    assert cov == {None: 1, "2001-08-01": 1, "2001-08-15": 1}


@pytest.mark.slow
def test_backfill_accumulates_dated_snapshots(spark, sf_dir, tmp_path):
    """Backfill over two dates leaves TWO warehouse snapshots (each
    run's partition-scoped commit replaces only its own date), and
    re-running one date is idempotent."""
    from feature_store_spark.pipelines.drivers import run_backfill

    out = str(tmp_path / "bf")
    dates = ["2001-06-01", "2001-07-01"]
    results = run_backfill(spark, sf_dir, out, dates)
    assert [r.status for r in results] == ["SUCCESS", "SUCCESS"]
    wh, _ = read_table(spark, f"{out}/warehouse/serving_features")
    snaps = {
        r["partition_date"].isoformat()
        for r in wh.select("partition_date").distinct().collect()
    }
    assert snaps == set(dates)
    n_before = wh.count()
    # idempotent per date: re-run the first date, snapshot set unchanged
    run_backfill(spark, sf_dir, out, [dates[0]])
    wh2, _ = read_table(spark, f"{out}/warehouse/serving_features")
    assert wh2.count() == n_before


@pytest.mark.slow
def test_backfill_transactional_matches_parquet_history(
    spark, sf_dir, tmp_path
):
    """Backfill history through partition-scoped manifest commits: one
    committed version per daily run, each date's partition holding
    exactly that date's user-feature keys, idempotent per date."""
    from feature_store_spark.pipelines.drivers import run_backfill

    out = str(tmp_path / "bftx")
    dates = ["2001-06-01", "2001-07-01"]
    results = run_backfill(spark, sf_dir, out, dates)
    assert [r.status for r in results] == ["SUCCESS", "SUCCESS"]
    wh_path = f"{out}/warehouse/serving_features"
    wh, v = read_table(spark, wh_path)
    assert v == 2  # one commit per run
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    for d, r in zip(dates, results):
        want = sorted(
            row[0] for row in derive_user_features(
                customer, orders, ref_date=d
            ).select("user_id").collect()
        )
        day, _ = read_table(spark, wh_path, partition_values=[d])
        assert sorted(row[0] for row in day.select("user_id").collect()) == want
        assert r.counts["warehouse_rows"] == len(want)
    n_before = wh.count()
    run_backfill(spark, sf_dir, out, [dates[0]])
    wh2, _ = read_table(spark, wh_path)
    assert wh2.count() == n_before
    assert latest_version(wh_path) == 3


@pytest.mark.slow
def test_daily_pipeline_vacuum_retention(spark, sf_dir, tmp_path):
    """vacuum_keep_last: the daily run prunes each
    store's history to the retention window after committing — results
    identical, old versions unreadable, tip intact."""
    import pytest

    out = str(tmp_path / "ret")
    run_daily_pipeline(
        spark, out_dir=out, sf_dir=sf_dir, ref_date="2001-06-01",
        vacuum_keep_last=1,
    )
    r = run_daily_pipeline(
        spark, out_dir=out, sf_dir=sf_dir, ref_date="2001-07-01",
        vacuum_keep_last=1,
    )
    assert r.status == "SUCCESS"
    for kind in ("user_features", "warehouse/serving_features"):
        df, v = read_table(spark, f"{out}/{kind}")
        assert v == 2 and df.count() > 0
        with pytest.raises(FileNotFoundError):
            read_table(spark, f"{out}/{kind}", version=1)
    # the warehouse tip still holds BOTH dates (vacuum prunes
    # versions, never live partitions)
    wh, _ = read_table(spark, f"{out}/warehouse/serving_features")
    assert wh.select("partition_date").distinct().count() == 2
