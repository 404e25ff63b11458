"""Structured Streaming tests (SURVEY §2.9): deterministic
availableNow replay of the events fixture, checked against batch-mode
computation of the same transforms."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from feature_store_spark.streaming import (
    dispatch_events,
    read_event_stream,
    recompute_triggers,
    run_streaming_upsert_manifest,
    velocity_windows_stream,
)
from feature_store_spark.tables import load_table


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    """Streaming file source needs a directory of parquet files."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def _run_to_memory(stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def test_dispatch_routes_and_validates(spark, sf_dir, events_dir):
    out = _run_to_memory(
        dispatch_events(read_event_stream(spark, events_dir)), "dispatch_t"
    )
    batch = load_table(spark, sf_dir, "events")
    assert out.count() == batch.count()
    routes = {r["route"] for r in out.select("route").distinct().collect()}
    assert routes <= {"user", "transaction", "risk", "invalid"}
    # fixture has only known event types → nothing lands in 'invalid'
    assert out.filter(~F.col("valid")).count() == 0
    purchases = batch.filter(F.col("event_type") == "purchase").count()
    assert out.filter(F.col("route") == "transaction").count() == purchases


def test_recompute_triggers_match_error_events(spark, sf_dir, events_dir):
    out = _run_to_memory(
        recompute_triggers(read_event_stream(spark, events_dir)), "trig_t"
    )
    batch = load_table(spark, sf_dir, "events")
    errors = batch.filter(F.col("event_type") == "error").count()
    assert out.count() == errors
    assert out.filter(F.col("priority") != "high").count() == 0


def test_velocity_windows_match_batch(spark, sf_dir, events_dir):
    """Streaming windowed aggregation == the same window computed in
    batch mode (same plan, no watermark drops since data is replayed
    in one availableNow pass)."""
    stream_out = _run_to_memory(
        velocity_windows_stream(
            read_event_stream(spark, events_dir),
            window="6 hours",
            slide="6 hours",
            watermark="0 seconds",
        ),
        "velocity_t",
    )
    ev = load_table(spark, sf_dir, "events")
    # Append mode only emits windows finalized by the watermark: with a
    # 0s watermark that is every window that closed before max(ts).
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch_out = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("transaction_velocity"))
        .filter(F.col("w.end") <= F.lit(max_ts))
        .select("user_id", F.col("w.start").alias("window_start"),
                "transaction_velocity")
    )
    s = {
        (r["user_id"], r["window_start"], r["transaction_velocity"])
        for r in stream_out.select(
            "user_id", "window_start", "transaction_velocity"
        ).collect()
    }
    b = {
        (r["user_id"], r["window_start"], r["transaction_velocity"])
        for r in batch_out.collect()
    }
    assert s == b
    assert len(s) > 0


def test_streaming_upsert_state(spark, events_dir, tmp_path):
    from feature_store_spark.pipelines.txn import read_table

    state = str(tmp_path / "risk_state")
    ckpt = str(tmp_path / "ckpt")
    counters = run_streaming_upsert_manifest(spark, events_dir, state, ckpt)
    assert counters["batches"] >= 1
    final, _ = read_table(spark, state)
    # one row per user with >=1 purchase event
    assert final.groupBy("user_id").count().filter("count > 1").count() == 0
    assert final.count() == counters["upserted_users"]
    assert final.count() > 0


def test_streaming_upsert_manifest_matches_parquet_state(
    spark, sf_dir, events_dir, tmp_path
):
    """The streaming sink commits one manifest version per micro-batch
    and lands exactly the latest purchase per user — last (ts,
    event_id) wins — folded in Python over the same events."""
    from feature_store_spark.pipelines.txn import read_table

    root = str(tmp_path / "risk_state_txn")
    b = run_streaming_upsert_manifest(
        spark, events_dir, root, str(tmp_path / "c2")
    )
    assert b["versions"] >= b["batches"] >= 1
    model: dict = {}
    purchases = (
        dispatch_events(load_table(spark, sf_dir, "events"))
        .filter(F.col("valid") & (F.col("event_type") == "purchase"))
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    for u, ts, eid, value in purchases:
        if u not in model or (ts, eid) > model[u][:2]:
            model[u] = (ts, eid, value)
    assert b["upserted_users"] == len(model) > 0
    txn_df, _ = read_table(spark, root)
    got = {
        r["user_id"]: (r["ts"], r["__seq"]["event_id"], r["risk_score"])
        for r in txn_df.collect()
    }
    assert got == model


def test_streaming_warehouse_append_partition_scoped(
    spark, sf_dir, events_dir, tmp_path
):
    """ST13: the streaming date-partitioned transactional sink lands
    the same rows as a batch latest-per-(user, date) over all purchase
    events, with one atomic partition-scoped commit per micro-batch
    and the event dates as manifest partitions."""
    from feature_store_spark.operators.windows import latest_per_key
    from feature_store_spark.pipelines.txn import read_table
    from feature_store_spark.streaming.pipeline import (
        run_streaming_warehouse_append,
    )

    root = str(tmp_path / "wh_stream")
    stats = run_streaming_warehouse_append(
        spark, events_dir, root, str(tmp_path / "c_wh")
    )
    assert stats["versions"] >= stats["batches"] >= 1
    assert stats["partitions"] >= 1

    ev = load_table(spark, sf_dir, "events")
    expected = latest_per_key(
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("value").alias("risk_score"),
            F.to_date("ts").alias("event_date"),
        )
        .withColumn("__seq", F.struct("ts", "event_id")),
        ["user_id", "event_date"],
        "__seq",
    ).drop("event_id")
    got, _ = read_table(spark, root)
    assert stats["rows"] == expected.count() > 0
    cols = sorted(got.columns)
    assert sorted(expected.columns) == cols
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, expected.select(*cols).collect())
    )
    # the per-batch commits recorded data-skipping metadata: a point
    # lookup through where= answers exactly and never scans MORE
    # leaves than the full read
    some_user = expected.select("user_id").first()[0]
    pruned, _ = read_table(
        spark, root, where=[("user_id", "=", some_user)]
    )
    assert sorted(
        r["event_date"] for r in pruned.collect()
    ) == sorted(
        r["event_date"]
        for r in expected.filter(
            F.col("user_id") == some_user
        ).collect()
    )
    full_leaves = {f.rsplit("/", 1)[0] for f in got.inputFiles()}
    pruned_leaves = {f.rsplit("/", 1)[0] for f in pruned.inputFiles()}
    assert pruned_leaves <= full_leaves


def test_running_profile_state_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState profile replayed over 3 forced
    micro-batches == one batch groupBy over the same events: proves
    GroupState actually carries per-user totals across batches."""
    from feature_store_spark.streaming import running_user_profile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = tmp_path / "profile_src"
    # 3 time-ordered files → with maxFilesPerTrigger=1, 3 micro-batches;
    # active users recur across files, so state must carry.
    rows = ev.orderBy("ts", "event_id")
    n = rows.count()
    pdf = rows.toPandas()
    # pandas would write TIMESTAMP(NANOS), which the session's
    # nanosAsLong conf surfaces as INT64 — write µs like the engine.
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src.mkdir()
    third = (n + 2) // 3
    for i in range(3):
        chunk = pdf.iloc[i * third:(i + 1) * third]
        if len(chunk):
            chunk.to_parquet(src / f"part-{i}.parquet", index=False)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = _run_to_memory(
        running_user_profile(stream), "profile_t", output_mode="update"
    )
    # final profile per user = the emission with the largest n_events
    from feature_store_spark.operators.windows import latest_per_key

    final = latest_per_key(out, ["user_id"], "n_events")

    expected = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchases"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("spend_cents"),
        F.max("ts").alias("last_ts"),
    )
    cols = ["user_id", "n_events", "n_purchases", "spend_cents", "last_ts"]
    got = {tuple(r) for r in final.select(*cols).collect()}
    want = {tuple(r) for r in expected.select(*cols).collect()}
    assert got == want
    # re-emissions prove state spanned micro-batches
    assert out.count() > expected.count()


def test_session_windows_match_batch(spark, sf_dir, events_dir):
    """Streaming session_window replay ⊆ batch sessionize exactly on
    (user, session_start, n_events, spend_cents); append mode only
    finalizes sessions closed by the final watermark."""
    from feature_store_spark.queries import SPECS, all_queries
    from feature_store_spark.streaming import session_windows_stream

    all_queries()
    stream_out = _run_to_memory(
        session_windows_stream(
            read_event_stream(spark, events_dir),
            gap="30 minutes",
            watermark="0 seconds",
        ),
        "sessions_t",
    )
    batch = SPECS["st7_session_features"].fn(spark, sf_dir)
    key = ("user_id", "session_start", "n_events", "spend_cents")
    s = {tuple(r) for r in stream_out.select(*key).collect()}
    b = {tuple(r) for r in batch.select(*key).collect()}
    assert len(s) > 0
    assert s <= b
    # nearly everything should finalize: only sessions still open at
    # the final watermark are withheld (at most one per user)
    n_users = batch.select("user_id").distinct().count()
    assert len(b) - len(s) <= n_users


def test_band_join_stream_matches_batch(spark, sf_dir, events_dir):
    """Stream-stream interval join replay == the batch band_join spec
    (j10) exactly. Exactness holds because the fixture is a single
    parquet file, so the availableNow replay is ONE micro-batch and
    nothing arrives after the watermark advances; with multi-file /
    multi-batch replay, rows older than the moving watermark would be
    dropped from the join input even for inner joins — don't split
    the fixture without raising the watermark."""
    from feature_store_spark.queries import SPECS, all_queries
    from feature_store_spark.streaming import band_join_stream

    all_queries()
    stream_out = _run_to_memory(
        band_join_stream(
            read_event_stream(spark, events_dir),
            band_seconds=300,
            watermark="0 seconds",
        ),
        "band_join_t",
    )
    batch = SPECS["j10_band_join"].fn(spark, sf_dir)
    cols = ("error_event_id", "user_id", "click_event_id", "delta_seconds")
    s = {tuple(r) for r in stream_out.select(*cols).collect()}
    b = {tuple(r) for r in batch.select(*cols).collect()}
    assert len(s) > 0
    assert s == b


def test_read_event_stream_on_empty_dir(spark, tmp_path):
    """Starting the stream before the producer has written any file
    must not crash at construction (regression: the ts-type sniff used
    an eager batch read, which raises UNABLE_TO_INFER_SCHEMA on an
    empty directory)."""
    d = tmp_path / "empty_events"
    d.mkdir()
    stream = read_event_stream(spark, str(d))
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_dedup_stream_drops_replayed_batch(spark, sf_dir, tmp_path):
    """A re-delivered file (at-least-once source) must contribute zero
    rows: dedup_stream over the fixture written TWICE equals the batch
    distinct-by-event_id of one copy, exactly-once semantics."""
    import shutil

    from feature_store_spark.streaming.pipeline import dedup_stream

    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")
    out = _run_to_memory(
        dedup_stream(read_event_stream(spark, str(d))), "dedup_t"
    )
    batch = load_table(spark, sf_dir, "events")
    assert out.count() == batch.select("event_id").distinct().count()
    # every surviving event is intact (same key set, no mangled rows)
    s = {r["event_id"] for r in out.select("event_id").collect()}
    b = {r["event_id"] for r in batch.select("event_id").collect()}
    assert s == b


def test_drift_monitor_flags_shifted_batch(spark, sf_dir, tmp_path):
    """ST10: the monitor must stay quiet on a same-distribution batch
    and flag a 100x-shifted one; report rows land in parquet."""
    from feature_store_spark.streaming.pipeline import run_drift_monitor

    ev = load_table(spark, sf_dir, "events")
    baseline = ev.select("value")

    # batch 1: the same distribution; batch 2: values shifted 100x.
    # The file stream source does not recurse, so the parquet dirs'
    # part files are flattened into the watched directory.
    import glob
    import shutil as _sh

    stream_dir = tmp_path / "drift_stream"
    stream_dir.mkdir()
    for name, df in (
        ("same", ev),
        ("shifted", ev.withColumn("value", F.col("value") * 100)),
    ):
        out = tmp_path / f"_{name}"
        df.coalesce(1).write.parquet(str(out))
        part = glob.glob(str(out / "part-*.parquet"))[0]
        _sh.copy(part, stream_dir / f"{name}.parquet")

    counters = run_drift_monitor(
        spark,
        str(stream_dir),
        baseline,
        str(tmp_path / "report"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,  # one file per micro-batch
    )
    report = {
        r["batch_id"]: r
        for r in spark.read.parquet(str(tmp_path / "report")).collect()
    }
    # availableNow may drain into 1..n batches; exactly the shifted
    # rows must trip the flag, identical rows must not
    drifted = [r for r in report.values() if r["drifted"]]
    clean = [r for r in report.values() if not r["drifted"]]
    assert counters["batches"] == len(report)
    assert counters["drifted_batches"] == len(drifted) >= 1
    assert len(clean) >= 1
    for r in drifted:
        assert r["psi"] > 0.2
    for r in clean:
        assert r["psi"] <= 0.2


def test_drift_monitor_replay_is_idempotent(spark, sf_dir, tmp_path):
    """ST10 idempotence: re-processing the same files with the same
    batch ids (fresh checkpoint, same report_dir — the worst-case
    at-least-once replay) must overwrite the per-batch_id partitions,
    not double-append, and counters must come from the report."""
    import glob
    import shutil as _sh

    from feature_store_spark.tables import load_table
    from feature_store_spark.streaming.pipeline import run_drift_monitor

    ev = load_table(spark, sf_dir, "events")
    baseline = ev.select("value")
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for name, df in (
        ("same", ev),
        ("shifted", ev.withColumn("value", F.col("value") * 100)),
    ):
        out = tmp_path / f"_{name}"
        df.coalesce(1).write.parquet(str(out))
        part = glob.glob(str(out / "part-*.parquet"))[0]
        _sh.copy(part, stream_dir / f"{name}.parquet")

    c1 = run_drift_monitor(
        spark, str(stream_dir), baseline, str(tmp_path / "report"),
        str(tmp_path / "ckpt1"), max_files_per_trigger=1,
    )
    # replay: fresh checkpoint → batch ids restart at 0 over the same
    # files and the same report_dir
    c2 = run_drift_monitor(
        spark, str(stream_dir), baseline, str(tmp_path / "report"),
        str(tmp_path / "ckpt2"), max_files_per_trigger=1,
    )
    report = spark.read.parquet(str(tmp_path / "report"))
    assert c2 == c1
    assert report.count() == c1["batches"]
    ids = [r["batch_id"] for r in report.select("batch_id").collect()]
    assert len(ids) == len(set(ids))


def test_drift_monitor_empty_source_returns_zero_counters(spark, sf_dir, tmp_path):
    from feature_store_spark.tables import load_table
    from feature_store_spark.streaming.pipeline import run_drift_monitor

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()  # exists but has no files
    baseline = load_table(spark, sf_dir, "events").select("value")
    c = run_drift_monitor(
        spark, str(stream_dir), baseline, str(tmp_path / "report"),
        str(tmp_path / "ckpt"),
    )
    assert c == {"batches": 0, "drifted_batches": 0}


def test_streaming_cdc_tombstone_beats_late_update(spark, tmp_path):
    """ST11 run_streaming_cdc: (a) stream over 2 forced micro-batches
    == one-shot apply_cdc over the full feed (seq order wins across
    batches — the delete at seq 5 survives a LATER-ARRIVING update at
    seq 3, which any last-batch-wins sink gets wrong); (b) a replay
    with a fresh checkpoint over the same files is a no-op."""
    import os
    import time

    from feature_store_spark.operators.cdc import apply_cdc
    from feature_store_spark.streaming.pipeline import (
        read_cdc_snapshot,
        run_streaming_cdc,
    )

    schema = "k bigint, v bigint, seq bigint, op string"
    batch_a = [(1, 10, 1, "I"), (2, 20, 1, "I"), (3, 0, 5, "D"),
               (1, 11, 2, "U")]
    batch_b = [(3, 30, 3, "U"), (2, 21, 4, "U"), (4, 40, 1, "I")]
    changes_dir = tmp_path / "changes"
    changes_dir.mkdir()
    fa, fb = str(changes_dir / "a"), str(changes_dir / "b")
    spark.createDataFrame(batch_a, schema).coalesce(1).write.parquet(fa)
    spark.createDataFrame(batch_b, schema).coalesce(1).write.parquet(fb)
    # FileStreamSource orders a backlog by modification time — pin it
    now = time.time()
    for d, mt in [(fa, now - 60), (fb, now)]:
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (mt, mt))

    state = str(tmp_path / "state")
    counters = run_streaming_cdc(
        spark, str(changes_dir) + "/*", state, str(tmp_path / "ckpt"),
        ["k"], schema, max_files_per_trigger=1,
    )
    assert counters["batches"] >= 2
    assert counters["tombstones"] == 1
    got = {(r["k"], r["v"]) for r in read_cdc_snapshot(spark, state).collect()}
    empty_base = spark.createDataFrame([], "k bigint, v bigint")
    all_changes = spark.createDataFrame(batch_a + batch_b, schema)
    want = {
        (r["k"], r["v"])
        for r in apply_cdc(empty_base, all_changes, ["k"]).collect()
    }
    assert got == want == {(1, 11), (2, 21), (4, 40)}
    assert counters["live_keys"] == 3

    # replay with a fresh checkpoint: merge is seq-idempotent
    counters2 = run_streaming_cdc(
        spark, str(changes_dir) + "/*", state, str(tmp_path / "ckpt2"),
        ["k"], schema, max_files_per_trigger=1,
    )
    got2 = {(r["k"], r["v"]) for r in read_cdc_snapshot(spark, state).collect()}
    assert got2 == want
    assert counters2["tombstones"] == 1


def test_streaming_sink_writes_organic_rollups(
    spark, events_dir, tmp_path, monkeypatch
):
    """ST13 + round-6 checkpointing: the streaming sink's per-batch
    partition-scoped commits write delta manifests, and the rollup
    cadence fires organically on the streaming path (shrunk interval:
    every commit) — so a long-running stream's table keeps O(interval)
    read-time resolution and listing-free tip lookup."""
    import os

    import feature_store_spark.pipelines.txn as txn
    from feature_store_spark.pipelines.txn import (
        latest_version,
        read_manifest,
        read_table,
        resolve_partitions,
    )
    from feature_store_spark.streaming.pipeline import (
        run_streaming_warehouse_append,
    )

    monkeypatch.setattr(txn, "CHECKPOINT_INTERVAL", 1)
    root = str(tmp_path / "wh_stream_ckpt")
    stats = run_streaming_warehouse_append(
        spark, events_dir, root, str(tmp_path / "c_wh2")
    )
    tip = latest_version(root)
    assert tip >= 1
    # every commit wrote a delta manifest plus its rollup
    for v in range(1, tip + 1):
        m = read_manifest(root, v)
        assert "updates" in m and "partitions" not in m
        assert os.path.exists(txn._ckpt_path(root, v))
    # rollup content == resolved map; pointer gives listing-free tip
    ck_parts = __import__("json").load(open(txn._ckpt_path(root, tip)))[
        "partitions"
    ]
    assert ck_parts == resolve_partitions(root, tip)
    assert txn._read_pointer(root) == tip
    df, _ = read_table(spark, root)
    assert df.count() == stats["rows"] > 0


def test_streaming_manifest_counts_track_dv_deletes(
    spark, events_dir, tmp_path
):
    """Both transactional streaming sinks report their row count off
    the tip manifest's ``rows``, not a count job. After a deletion-
    vector DELETE on each table (the case where a leaf's files still
    hold the deleted rows) a re-drain with nothing new to read must
    still report exactly ``read_table(...)[0].count()``."""
    from feature_store_spark.pipelines.txn import delete_where, read_table
    from feature_store_spark.streaming.pipeline import (
        run_streaming_upsert_manifest,
        run_streaming_warehouse_append,
    )

    for run, key in (
        (run_streaming_upsert_manifest, "upserted_users"),
        (run_streaming_warehouse_append, "rows"),
    ):
        root = str(tmp_path / f"{run.__name__}_t")
        ckpt = str(tmp_path / f"{run.__name__}_c")
        first = run(spark, events_dir, root, ckpt)
        df, _ = read_table(spark, root)
        assert first[key] == df.count() > 0
        victims = sorted({r[0] for r in df.select("user_id").collect()})[:3]
        res = delete_where(
            spark, root, [("user_id", "in", victims)], mode="dv"
        )
        assert res["rows_deleted"] > 0, res
        again = run(spark, events_dir, root, ckpt)
        assert again["batches"] == 0
        assert again["versions"] == first["versions"] + 1
        after, _ = read_table(spark, root)
        assert again[key] == after.count() == first[key] - res["rows_deleted"]


def test_ts_sniff_reads_one_visible_footer(spark, tmp_path):
    """The stream's ts type comes from one visible file's footer:
    INT64 TIMESTAMP(NANOS) is nanos; µs and Spark's default INT96 are
    not; hidden names (``.``/``_``) are skipped like Spark's file source
    skips them; an empty or absent directory is not nanos."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from feature_store_spark.streaming.pipeline import _ts_is_nanos

    def land(d, unit, name="part-0.parquet"):
        d.mkdir(exist_ok=True)
        ts = pa.array([datetime.datetime(2024, 1, 2)], pa.timestamp(unit))
        pq.write_table(pa.table({"ts": ts, "user_id": [1]}), d / name)
        return str(d)

    assert _ts_is_nanos(land(tmp_path / "ns", "ns"))
    us = land(tmp_path / "us", "us")
    land(tmp_path / "us", "ns", ".part-1.parquet")  # in flight, hidden
    (tmp_path / "us" / "_SUCCESS").write_text("")
    assert not _ts_is_nanos(us)
    int96 = str(tmp_path / "int96")
    spark.createDataFrame(
        [(datetime.datetime(2024, 1, 2), 1)], "ts timestamp, user_id long"
    ).write.parquet(int96)
    assert pq.read_metadata(
        next(p for p in (tmp_path / "int96").iterdir()
             if p.name.startswith("part-"))
    ).schema.column(0).physical_type == "INT96"
    assert not _ts_is_nanos(int96)
    (tmp_path / "empty").mkdir()
    assert not _ts_is_nanos(str(tmp_path / "empty"))
    assert not _ts_is_nanos(str(tmp_path / "absent"))
