"""Manifest checkpointing (VERDICT r5 item 2): O(1)-ish tip
resolution via the ``_last_checkpoint`` pointer, delta-encoded
partitioned manifests (commit payload flat in partition count), and
the periodic full-map rollups that bound the resolution chain — the
local re-derivation of Delta's checkpoint mechanism, which a lake
layout must amortize where the reference's Postgres never pays it
(`src/pipelines/batch_pipeline.py:221-310` is a B-tree upsert).

The thousand-version tests synthesize manifests directly through
``_try_commit`` (the protocol layer is pure filesystem — no Spark
needed to prove resolution complexity); the Spark tests pin the
read/write integration at a shrunk CHECKPOINT_INTERVAL."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import feature_store_spark.pipelines.txn as txn
from feature_store_spark.pipelines.txn import (
    latest_version,
    read_manifest,
    read_table,
    resolve_partitions,
    upsert_manifest_partitioned,
    vacuum,
)

_SCHEMA = {"type": "struct", "fields": []}


def _fake_table(root, n_versions, n_partitions=8):
    """Synthesize a partitioned manifest table: version v touches
    partition v % n_partitions. Returns the expected full map at tip.
    Pure protocol — no data files, no Spark."""
    full = {}
    for v in range(1, n_versions + 1):
        pk = f"d{v % n_partitions}"
        entry = {"dir": f"data/c{v:05d}/__ptok=t{pk}", "rows": 1}
        manifest = {
            "base_version": v - 1,
            "rows": len({**full, pk: entry}),
            "schema": _SCHEMA,
            "partition_col": "p",
            "updates": {pk: entry},
        }
        assert txn._try_commit(root, v, manifest)
        full[pk] = entry
        txn._maybe_checkpoint(root, v, full)
    return full


def test_tip_resolution_needs_no_directory_listing(tmp_path):
    root = str(tmp_path / "t")
    _fake_table(root, 37)

    def boom(_root):
        raise AssertionError("latest_version listed the manifest dir")

    real = txn._list_versions
    txn._list_versions = boom
    try:
        assert latest_version(root) == 37
    finally:
        txn._list_versions = real
    # pointer lost (crash, rsync, fresh clone) -> listing fallback
    os.remove(txn._pointer_path(root))
    assert latest_version(root) == 37
    # corrupt pointer -> fallback too, never an exception
    with open(txn._pointer_path(root), "w") as f:
        f.write("{not json")
    assert latest_version(root) == 37
    # valid JSON but wrong shape/type (null tip) -> same fallback
    with open(txn._pointer_path(root), "w") as f:
        f.write('{"tip": null}')
    assert latest_version(root) == 37
    with open(txn._pointer_path(root), "w") as f:
        f.write('{"tip": {}}')
    assert latest_version(root) == 37


def test_pointer_lags_probe_forward_finds_tip(tmp_path):
    """A writer that crashed between manifest link and pointer write
    leaves a LAGGING pointer; resolution probes forward to the true
    tip instead of trusting the hint."""
    root = str(tmp_path / "t")
    _fake_table(root, 10)
    with open(txn._pointer_path(root), "w") as f:
        json.dump({"tip": 7}, f)
    assert latest_version(root) == 10
    # and _write_pointer is monotonic: a stale advertise is ignored
    txn._write_pointer(root, 3)
    assert json.load(open(txn._pointer_path(root)))["tip"] == 7


def test_thousand_versions_resolve_bounded(tmp_path):
    """The VERDICT 'done' bar: 10^3 versions — tip resolution without
    a directory listing, and the partition map at the tip resolved
    through at most CHECKPOINT_INTERVAL manifest reads (the rollup
    bound), not a 1000-manifest replay."""
    root = str(tmp_path / "t")
    full = _fake_table(root, 1000, n_partitions=16)

    reads = {"n": 0}
    real = txn.read_manifest

    def counting(r, v):
        reads["n"] += 1
        return real(r, v)

    txn.read_manifest = counting
    real_list = txn._list_versions
    txn._list_versions = lambda _r: pytest.fail("listed manifests")
    try:
        assert latest_version(root) == 1000
        got = resolve_partitions(root, 1000)
    finally:
        txn.read_manifest = real
        txn._list_versions = real_list
    assert got == full
    # 1000 % 16 == 8 deltas above the ckpt at 992, plus zero listing
    assert reads["n"] <= txn.CHECKPOINT_INTERVAL
    # commit payloads stayed flat in partition count: every manifest
    # carries exactly its one touched entry
    m = read_manifest(root, 1000)
    assert "partitions" not in m and len(m["updates"]) == 1


def test_checkpoint_rollup_and_reads(spark, tmp_path, monkeypatch):
    """Spark integration at a shrunk interval: rollups land on the
    interval, every version still reads correctly (deltas resolve
    through the nearest rollup), time travel included."""
    monkeypatch.setattr(txn, "CHECKPOINT_INTERVAL", 4)
    root = str(tmp_path / "t")

    def up(rows):
        return upsert_manifest_partitioned(
            spark.createDataFrame(
                rows, "user_id bigint, v string, ts bigint, p string"
            ),
            root,
            ["user_id"],
            "ts",
            "p",
        )

    up([(1, "a", 1, "d1"), (2, "b", 1, "d2")])
    up([(2, "b2", 2, "d2")])
    up([(3, "c", 1, "d3")])
    up([(1, "a2", 2, "d1")])  # version 4 -> rollup
    up([(4, "d", 1, "d4")])
    assert os.path.exists(txn._ckpt_path(root, 4))
    assert not os.path.exists(txn._ckpt_path(root, 3))
    # the rollup equals the resolved map at its version
    ck = json.load(open(txn._ckpt_path(root, 4)))
    assert ck["partitions"] == resolve_partitions(root, 4)
    # v5 resolves through the ckpt: its chain never reaches v1
    df, v = read_table(spark, root)
    assert v == 5 and df.count() == 4
    got = {(r["user_id"], r["p"]): r["v"] for r in df.collect()}
    assert got == {
        (1, "d1"): "a2",
        (2, "d2"): "b2",
        (3, "d3"): "c",
        (4, "d4"): "d",
    }
    # time travel below the rollup still resolves (chain to v1)
    df1, _ = read_table(spark, root, version=2)
    assert df1.count() == 2


def test_vacuum_checkpoints_oldest_kept_version(
    spark, tmp_path, monkeypatch
):
    """Pruning ancestors must not strand retained deltas: vacuum
    rolls up the oldest kept version first, so every kept version
    resolves afterwards and carried-forward leaves stay readable."""
    monkeypatch.setattr(txn, "CHECKPOINT_INTERVAL", 100)  # no organic ckpts
    root = str(tmp_path / "t")

    def up(rows):
        return upsert_manifest_partitioned(
            spark.createDataFrame(
                rows, "user_id bigint, v string, ts bigint, p string"
            ),
            root,
            ["user_id"],
            "ts",
            "p",
        )

    up([(1, "a", 1, "d1")])
    up([(2, "b", 1, "d2")])
    up([(3, "c", 1, "d3")])
    up([(2, "b2", 2, "d2")])
    up([(4, "d", 1, "d4")])  # tip=5; d1's leaf written at v1
    removed = vacuum(root, keep_last=2)
    # versions 1-3 pruned, 4-5 kept; oldest kept (4) got the rollup
    assert os.path.exists(txn._ckpt_path(root, 4))
    assert not os.path.exists(txn._manifest_path(root, 1))
    assert latest_version(root) == 5
    # d1's v1 leaf is carried forward by kept versions -> NOT removed
    d1_dir = resolve_partitions(root, 5)[txn._pkey("d1")]["dir"]
    assert d1_dir not in removed
    assert os.path.isdir(os.path.join(root, d1_dir))
    # both kept versions fully readable after the prune (one row per
    # partition: v4's (2,'b2') replaced v2's (2,'b') in place)
    df5, _ = read_table(spark, root)
    assert df5.count() == 4
    df4, _ = read_table(spark, root, version=4)
    assert df4.count() == 3
    # superseded d2 v2 leaf DID die
    assert any("__ptok" in d for d in removed)
    # the table keeps taking commits afterwards
    up([(9, "z", 1, "d1")])
    assert read_table(spark, root)[0].count() == 5


def test_table_changes_skips_byte_identical_partitions(spark, tmp_path):
    """CDC over a partitioned table uses leaf-dir identity (dir
    equality ⇒ byte-identity, the vacuum invariant) to read ONLY
    partitions whose dirs differ. Proof is physical: the unchanged
    partition's leaf is renamed away while the diff runs — a skipped
    read cannot crash."""
    from feature_store_spark.pipelines.txn import (
        compact_manifest,
        table_changes,
    )

    root = str(tmp_path / "t")

    def up(rows):
        upsert_manifest_partitioned(
            spark.createDataFrame(
                rows, "user_id bigint, v string, ts bigint, p string"
            ),
            root,
            ["user_id"],
            "ts",
            "p",
        )

    up([(1, "a", 1, "d1"), (2, "b", 1, "d1"), (3, "c", 1, "d2")])
    up([(3, "c2", 2, "d2")])  # v2 touches only d2
    keys = ["user_id", "p"]

    got = {
        (r["user_id"], r["p"]): r["status"]
        for r in table_changes(spark, root, 1, 2, key_cols=keys).collect()
    }
    # d1's two rows are OMITTED (provably unchanged), d2's reported
    assert got == {(3, "d2"): "changed"}

    # compact only d1 -> v3; CDC v2..v3 must read just d1's new leaf
    compact_manifest(spark, root, partition_values=["d1"])
    d2_dir = os.path.join(root, resolve_partitions(root, 3)["d2"]["dir"])
    hidden = d2_dir + ".hidden"
    os.rename(d2_dir, hidden)
    try:
        rows = table_changes(spark, root, 2, 3, key_cols=keys).collect()
    finally:
        os.rename(hidden, d2_dir)
    # the compacted partition's rows are all unchanged; d2 never read
    assert rows == []


def test_vacuum_prunes_stale_rollups(tmp_path):
    """A pruned version's rollup file goes with its manifest — kept
    versions resolve via the fresh oldest-kept rollup instead."""
    root = str(tmp_path / "t")
    _fake_table(root, 40, n_partitions=4)  # organic ckpts at 16, 32
    assert os.path.exists(txn._ckpt_path(root, 16))
    tip_map = resolve_partitions(root, 40)
    vacuum(root, keep_last=3)  # keeps 38..40
    assert not os.path.exists(txn._ckpt_path(root, 16))
    assert not os.path.exists(txn._ckpt_path(root, 32))
    assert os.path.exists(txn._ckpt_path(root, 38))
    assert latest_version(root) == 40
    assert resolve_partitions(root, 40) == tip_map
    assert resolve_partitions(root, 38)  # oldest kept resolves too


def test_drop_partitions_and_warehouse_expiration(spark, tmp_path):
    """Partition-level retention: drop_partitions publishes a
    zero-data-work 'removed' commit — the tip loses the partitions,
    time travel still sees them, vacuum reclaims the leaves, a re-run
    is a no-op — and export_warehouse uses it to
    actually EXPIRE date partitions past retention (the reference's
    BigQuery partition_expiration_days analogue,
    sql/bigquery_schema.sql:18-26)."""
    from feature_store_spark.pipelines.sinks import export_warehouse
    from feature_store_spark.pipelines.txn import drop_partitions

    root = str(tmp_path / "t")

    def up(rows):
        upsert_manifest_partitioned(
            spark.createDataFrame(
                rows, "user_id bigint, v string, ts bigint, p string"
            ),
            root,
            ["user_id"],
            "ts",
            "p",
        )

    up([(1, "a", 1, "d1"), (2, "b", 1, "d2"), (3, "c", 1, "d3")])
    assert drop_partitions(root, ["d1", "nope"]) == 1  # absent ignored
    assert latest_version(root) == 2
    df, _ = read_table(spark, root)
    assert {r["p"] for r in df.collect()} == {"d2", "d3"}
    assert read_manifest(root, 2)["rows"] == 2
    # time travel still sees the dropped partition
    df1, _ = read_table(spark, root, version=1)
    assert df1.count() == 3
    # idempotent re-run: no-op, no commit
    assert drop_partitions(root, ["d1"]) == 0
    assert latest_version(root) == 2
    # a re-add after the drop works (removed entries don't shadow)
    up([(9, "z", 1, "d1")])
    assert {r["p"] for r in read_table(spark, root)[0].collect()} == {
        "d1", "d2", "d3",
    }
    # vacuum reclaims the ORIGINAL d1 leaf once v1/v2 are pruned
    d1_old = resolve_partitions(root, 1)["d1"]["dir"]
    removed = vacuum(root, keep_last=1)
    assert d1_old in removed
    assert read_table(spark, root)[0].count() == 3

    with pytest.raises(ValueError, match="UNPARTITIONED"):
        flat = str(tmp_path / "flat")
        from feature_store_spark.pipelines.txn import upsert_manifest

        upsert_manifest(
            spark.createDataFrame(
                [(1, "a", 1)], "user_id bigint, v string, ts bigint"
            ),
            flat,
            ["user_id"],
            "ts",
        )
        drop_partitions(flat, ["x"])

    # warehouse expiration: day far past retention is dropped on the
    # next export
    wh = str(tmp_path / "wh")
    old_day = spark.createDataFrame(
        [(1, 1.0, "2020-01-01 00:00:00")],
        "user_id bigint, score double, updated_at string",
    ).withColumn("updated_at", F.to_timestamp("updated_at"))
    export_warehouse(old_day, wh)  # no ref_date: kept
    new_day = spark.createDataFrame(
        [(1, 2.0, "2024-06-01 00:00:00")],
        "user_id bigint, score double, updated_at string",
    ).withColumn("updated_at", F.to_timestamp("updated_at"))
    assert (
        export_warehouse(
            new_day, wh, retention_days=730, ref_date="2024-06-02",
        )
        == 1
    )
    tip = latest_version(wh)
    assert set(resolve_partitions(wh, tip)) == {"2024-06-01"}
    df, _ = read_table(spark, wh)
    assert df.count() == 1


def test_read_table_manifest_level_partition_pruning(spark, tmp_path):
    """partition_values on read_table lists ONLY the named leaves —
    proven physically: every other partition's leaf is renamed away
    while the pruned read collects."""
    root = str(tmp_path / "t")
    upsert_manifest_partitioned(
        spark.createDataFrame(
            [(1, "a", 1, "d1"), (2, "b", 1, "d2"), (3, "c", 1, "d3")],
            "user_id bigint, v string, ts bigint, p string",
        ),
        root,
        ["user_id"],
        "ts",
        "p",
    )
    pmap = resolve_partitions(root, 1)
    hidden = []
    for pk in ("d2", "d3"):
        d = os.path.join(root, pmap[pk]["dir"])
        os.rename(d, d + ".hidden")
        hidden.append(d)
    try:
        df, v = read_table(spark, root, partition_values=["d1", "nope"])
        rows = df.collect()
    finally:
        for d in hidden:
            os.rename(d + ".hidden", d)
    assert v == 1 and [(r["user_id"], r["p"]) for r in rows] == [(1, "d1")]
    # empty selection -> empty frame under the pinned schema
    df, _ = read_table(spark, root, partition_values=["zzz"])
    assert df.count() == 0 and df.columns == ["user_id", "v", "ts", "p"]
    # unpartitioned tables refuse the knob
    flat = str(tmp_path / "flat")
    txn.upsert_manifest(
        spark.createDataFrame(
            [(1, "a", 1)], "user_id bigint, v string, ts bigint"
        ),
        flat,
        ["user_id"],
        "ts",
    )
    with pytest.raises(ValueError, match="partition-scoped"):
        read_table(spark, flat, partition_values=["x"])


def test_table_history(spark, tmp_path):
    """DESCRIBE HISTORY: one row per retained version with op tags and
    commit timestamps, newest first; vacuumed versions drop out."""
    from feature_store_spark.pipelines.txn import (
        compact_manifest,
        drop_partitions,
        table_history,
    )

    root = str(tmp_path / "t")

    def up(rows, **kw):
        upsert_manifest_partitioned(
            spark.createDataFrame(
                rows, "user_id bigint, v string, ts bigint, p string"
            ),
            root,
            ["user_id"],
            "ts",
            "p",
            **kw,
        )

    up([(1, "a", 1, "d1"), (2, "b", 1, "d2")])
    up([(2, "b2", 2, "d2")], mode="replace")
    compact_manifest(spark, root, partition_values=["d1"])
    drop_partitions(root, ["d2"])
    h = table_history(spark, root).collect()
    assert [r["version"] for r in h] == [4, 3, 2, 1]
    assert [r["op"] for r in h] == [
        "drop_partitions", "compact", "replace", "merge",
    ]
    assert all(r["committed_at"] is not None for r in h)
    assert h[0]["rows"] == 1  # d2 dropped, d1's single row remains
    assert h[0]["n_removed_partitions"] == 1
    assert h[3]["n_updated_partitions"] == 2
    # vacuum prunes history like Delta log cleanup
    vacuum(root, keep_last=2)
    assert [r["version"] for r in table_history(spark, root).collect()] == [
        4, 3,
    ]
    # flat tables report too (no partition columns)
    flat = str(tmp_path / "flat")
    txn.upsert_manifest(
        spark.createDataFrame(
            [(1, "a", 1)], "user_id bigint, v string, ts bigint"
        ),
        flat,
        ["user_id"],
        "ts",
    )
    hf = table_history(spark, flat).collect()
    assert len(hf) == 1 and hf[0]["op"] == "upsert"
    assert hf[0]["n_updated_partitions"] is None


def test_min_files_auto_compaction_and_maintenance(spark, tmp_path):
    """min_files makes OPTIMIZE incremental: only fragmented leaves
    are rewritten (cold one-file partitions keep byte-identity), an
    all-tidy table is a version-preserving no-op, and
    run_table_maintenance chains compact+vacuum into one call whose
    repeat run is a near-no-op."""
    import hashlib

    from feature_store_spark.pipelines.drivers import run_table_maintenance
    from feature_store_spark.pipelines.txn import compact_manifest

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        root = str(tmp_path / "t")
        # d_hot written wide (8 files), d_cold written as one file
        hot = spark.createDataFrame(
            [(i, f"v{i}", 1, "d_hot") for i in range(32)],
            "user_id bigint, v string, ts bigint, p string",
        ).repartition(8)
        upsert_manifest_partitioned(hot, root, ["user_id"], "ts", "p")
        cold = spark.createDataFrame(
            [(100, "c", 1, "d_cold")],
            "user_id bigint, v string, ts bigint, p string",
        ).coalesce(1)
        upsert_manifest_partitioned(cold, root, ["user_id"], "ts", "p")

        p2 = resolve_partitions(root, 2)
        cold_dir = os.path.join(root, p2["d_cold"]["dir"])

        def fp(path):
            out = {}
            for dp, _, files in os.walk(path):
                for f in files:
                    with open(os.path.join(dp, f), "rb") as fh:
                        out[f] = hashlib.sha1(fh.read()).hexdigest()
            return out

        cold_before = fp(cold_dir)
        stats = compact_manifest(spark, root, min_files=4)
        assert stats["version"] == 3
        p3 = resolve_partitions(root, 3)
        # hot leaf rewritten to one file; cold entry carried verbatim
        assert p3["d_hot"]["dir"] != p2["d_hot"]["dir"]
        assert p3["d_cold"] == p2["d_cold"]
        assert fp(cold_dir) == cold_before
        assert txn._leaf_file_count(
            os.path.join(root, p3["d_hot"]["dir"])
        ) == 1
        df, _ = read_table(spark, root)
        assert df.count() == 33

        # all leaves tidy now -> threshold compaction is a no-op
        stats = compact_manifest(spark, root, min_files=4)
        assert stats["version"] == 3  # no commit published
        assert latest_version(root) == 3

        # maintenance chains compact+vacuum; second run near-no-op
        rep = run_table_maintenance(spark, root, min_files=4, keep_last=1)
        assert rep["version"] == 3 and rep["rows"] == 33
        assert rep["data_dirs_reclaimed"] >= 1  # superseded hot leaf
        rep2 = run_table_maintenance(spark, root, min_files=4, keep_last=1)
        assert rep2["version"] == 3
        assert rep2["data_dirs_reclaimed"] == 0
        assert not rep2["compacted"]
        df, _ = read_table(spark, root)
        assert df.count() == 33
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_width)


def test_table_changes_across_drop_partitions(spark, tmp_path):
    """CDC across a retention drop: the dropped partition's rows
    report status='removed' (its leaf differs: present -> absent) and
    the kept partition reports nothing."""
    from feature_store_spark.pipelines.txn import (
        drop_partitions,
        table_changes,
    )

    root = str(tmp_path / "t")
    upsert_manifest_partitioned(
        spark.createDataFrame(
            [(1, "a", 1, "d1"), (2, "b", 1, "d2")],
            "user_id bigint, v string, ts bigint, p string",
        ),
        root,
        ["user_id"],
        "ts",
        "p",
    )
    assert drop_partitions(root, ["d2"]) == 1
    keys = ["user_id", "p"]
    got = {
        (r["user_id"], r["p"]): r["status"]
        for r in table_changes(spark, root, 1, 2, key_cols=keys).collect()
    }
    assert got == {(2, "d2"): "removed"}
