"""Spark-job budgets of the change feed, the streaming sink, vacuum,
the quality report, the warehouse export and the daily pipeline: upper
bounds on the jobs one call runs on a small table (or the sf fixture)
with the test session, as measured (see also the committing verbs'
budgets in ``test_txn_leaf_writer.py`` and the serving budgets in
``test_sinks_serving.py``)."""

from __future__ import annotations

import shutil

from feature_store_spark.pipelines import txn

DDL = "k bigint, v string, ts bigint, p string"
SEED = [(k, f"v{k}", 1, f"d{k % 3}") for k in range(12)]

# One ``read_changes_stream`` batch, collected, per commit kind. In
# brackets the count when each batch diffed the two full snapshots.
CDC_BUDGETS = {
    "initial": 1,
    "upsert": 3,
    "dv_delete": 4,
    "metadata_only": 0,  # (4)
}


def test_change_feed_batches_stay_in_their_job_budget(
    spark, tmp_path, job_budget
):
    """One batch of the change stream, with its rows collected: the
    initial snapshot, a flat upsert, a one-leaf partitioned upsert, a
    DV delete, and a metadata-only commit, which reads no leaf."""
    got = {}
    for layout in ("flat", "part"):
        root, ck = str(tmp_path / layout), str(tmp_path / f"{layout}.ck")
        part = layout == "part"

        def upsert(rows):
            df = spark.createDataFrame(rows, DDL)
            if part:
                txn.upsert_manifest_partitioned(df, root, ["k"], "ts", "p")
            else:
                txn.upsert_manifest(df, root, ["k"], "ts")

        def batch(name):
            batches = []
            res, got[f"{layout}.{name}"] = job_budget(
                lambda: txn.read_changes_stream(
                    spark, root, ck,
                    lambda df, v: batches.append(df.collect()), ["k"],
                    max_batches=1,
                )
            )
            assert res["batches"] == 1
            return batches[0]

        upsert(SEED)
        assert len(batch("initial")) == 12
        upsert([(1, "x", 2, "d1")])
        assert [r["k"] for r in batch("upsert")] == [1]
        txn.delete_where(spark, root, [("k", "=", 4)], mode="dv")
        assert [(r["k"], r["status"]) for r in batch("dv_delete")] == [
            (4, "removed")
        ]
        txn.rename_column(root, "v", "w")
        assert batch("metadata_only") == []
    want = {
        f"{lo}.{k}": n for lo in ("flat", "part") for k, n in CDC_BUDGETS.items()
    }
    over = {k: (n, want[k]) for k, n in got.items() if n > want[k]}
    assert not over, f"(jobs, budget) over budget: {over}; all: {got}"


def test_drain_vacuum_and_quality_report_job_budgets(
    spark, sf_dir, tmp_path, job_budget
):
    """A ``run_streaming_upsert_manifest`` drain of one landed file runs
    at most 2 jobs (its micro-batch's merge commit), a drain with
    nothing new and ``vacuum`` none, the quality report at most 8."""
    from feature_store_spark.pipelines.drivers import run_quality_report
    from feature_store_spark.streaming.pipeline import (
        run_streaming_upsert_manifest,
    )

    land = tmp_path / "landing"
    land.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", land / "events.parquet")
    root, ck = str(tmp_path / "t"), str(tmp_path / "ck")

    def drain():
        return run_streaming_upsert_manifest(spark, str(land), root, ck)

    res, jobs = job_budget(drain)
    assert res["batches"] == 1 and jobs <= 2
    res, jobs = job_budget(drain)
    assert res["batches"] == 0 and jobs == 0
    _, jobs = job_budget(lambda: txn.vacuum(root))
    assert jobs == 0

    run_quality_report(spark, sf_dir)  # warm: first-use setup jobs
    report, jobs = job_budget(lambda: run_quality_report(spark, sf_dir))
    assert report["completeness"] and jobs <= 8


def test_export_and_daily_pipeline_job_budgets(
    spark, sf_dir, tmp_path, job_budget
):
    """On the sf fixture, a warm ``run_daily_pipeline`` (its tables
    already exist) runs at most 30 jobs and a warm ``export_warehouse``
    of the user features at most 7. Before the export learnt its dates
    from its read-back and the groups counted their rows on their own
    commits, they ran 42 and 11."""
    from pyspark.sql import functions as F

    from feature_store_spark.pipelines.drivers import run_daily_pipeline
    from feature_store_spark.pipelines.features import derive_user_features
    from feature_store_spark.pipelines.sinks import export_warehouse
    from feature_store_spark.tables import REF_DATE, load_table

    out = str(tmp_path / "out")
    run_daily_pipeline(spark, sf_dir, out)  # warm: creates the tables
    res, jobs = job_budget(lambda: run_daily_pipeline(spark, sf_dir, out))
    assert res.status == "SUCCESS" and jobs <= 30

    users = derive_user_features(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        ref_date=REF_DATE,
    ).withColumn("updated_at", F.to_timestamp(F.lit(f"{REF_DATE} 00:00:00")))
    wh = str(tmp_path / "wh")

    def export():
        return export_warehouse(users, wh, ref_date=REF_DATE)

    export()  # warm: creates the table
    n, jobs = job_budget(export)
    assert n == res.counts["user_features"] and jobs <= 7
