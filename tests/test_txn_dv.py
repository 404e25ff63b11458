"""Deletion vectors (delete_where(mode='dv')) — merge-on-read
row-level deletes: per-leaf (file, position) sidecars anti-joined at
read time instead of leaf rewrites. Delta deletion-vector / Iceberg
positional-delete analogue; reference intent: row-level retention
deletes without rewriting clustered warehouse partitions."""
from __future__ import annotations

import datetime

import pytest

import feature_store_spark.pipelines.txn as txn
from feature_store_spark.pipelines.txn import (
    clone_table,
    compact_manifest,
    delete_where,
    merge_into,
    read_manifest,
    read_table,
    rename_column,
    restore,
    table_changes,
    upsert_manifest,
    upsert_manifest_partitioned,
    vacuum,
)

D1 = datetime.date(2024, 1, 1)
D2 = datetime.date(2024, 1, 2)


def _flat(spark, root, n=10):
    upsert_manifest(
        spark.createDataFrame(
            [(i, float(i), 1) for i in range(n)],
            "user_id bigint, score double, ts bigint",
        ),
        root, ["user_id"], "ts",
    )


def _part(spark, root):
    rows = [(i, float(i), 1, D1) for i in range(5)] + [
        (i, float(i), 1, D2) for i in range(100, 105)
    ]
    upsert_manifest_partitioned(
        spark.createDataFrame(
            rows, "user_id bigint, score double, ts bigint, p date"
        ),
        root, ["user_id"], "ts", "p", stats_cols=["user_id"],
    )


def _ids(spark, root, version=None):
    got, _ = read_table(spark, root, version)
    return sorted(r["user_id"] for r in got.collect())


def test_dv_delete_flat_roundtrip_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    res = delete_where(spark, root, [("user_id", "<", 3)], mode="dv")
    assert res["committed"] and res["rows_deleted"] == 3
    # the flat table's one leaf was re-published (as in rewrite mode)
    assert res["partitions_rewritten"] == 1
    assert _ids(spark, root) == list(range(3, 10))
    m = read_manifest(root, 2)
    assert m["rows"] == 7 and m["dv"]["deleted"] == 3
    # the data dir was NOT rewritten — merge-on-read
    assert m["data_dir"] == read_manifest(root, 1)["data_dir"]
    # protocol stamped: a pre-DV reader must refuse
    assert "deletion_vectors" in m["protocol"]["reader"]
    # time travel to v1 sees the pre-delete rows
    assert _ids(spark, root, 1) == list(range(10))
    # second DV delete unions the sidecars
    res = delete_where(spark, root, [("user_id", "=", 5)], mode="dv")
    assert res["rows_deleted"] == 1
    assert _ids(spark, root) == [3, 4, 6, 7, 8, 9]
    assert read_manifest(root, 3)["dv"]["deleted"] == 4
    # re-deleting already-deleted rows is a no-op (no version)
    res = delete_where(spark, root, [("user_id", "<", 3)], mode="dv")
    assert not res["committed"]
    assert txn.latest_version(root) == 3


def test_dv_delete_partitioned_and_empty_partition(spark, tmp_path):
    root = str(tmp_path / "t")
    _part(spark, root)
    res = delete_where(spark, root, [("user_id", "<", 2)], mode="dv")
    assert res["committed"] and res["rows_deleted"] == 2
    assert res["partitions_rewritten"] == 1  # D1's entry re-published
    assert _ids(spark, root) == [2, 3, 4, 100, 101, 102, 103, 104]
    # data-skipping stats still prune: the D2 leaf was never touched
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    d1 = parts[txn._pkey(D1)]
    assert d1["rows"] == 3 and d1["dv"]["deleted"] == 2
    assert "dv" not in parts[txn._pkey(D2)]
    # deleting a partition's every remaining live row removes it
    res = delete_where(spark, root, [("user_id", "<", 100)], mode="dv")
    assert res["partitions_removed"] == 1 and res["rows_deleted"] == 3
    assert _ids(spark, root) == [100, 101, 102, 103, 104]


def test_rewriting_verbs_read_through_and_purge_dv(spark, tmp_path):
    """merge/compact/upsert read LIVE rows and publish clean leaves —
    compaction is the DV purge; accounting stays consistent."""
    root = str(tmp_path / "t")
    _flat(spark, root)
    delete_where(spark, root, [("user_id", "<", 4)], mode="dv")
    # merge over the DV'd table: deleted rows are invisible to the
    # MATCH (user 1 is NOT matched — its source row takes the INSERT
    # clause as a brand-new row, exactly Delta's post-delete MERGE
    # semantics), and an update-only clause cannot resurrect them
    src = spark.createDataFrame(
        [(1, 111.0), (50, 500.0)], "user_id bigint, val double"
    )
    res = merge_into(
        spark, root, src, ["user_id"],
        when_matched=[(None, {"score": "s.val"})],
        when_not_matched=(None, {
            "user_id": "s.user_id", "score": "s.val", "ts": "2",
        }),
    )
    assert res["rows_updated"] == 0 and res["rows_inserted"] == 2
    got, _ = read_table(spark, root)
    m = {r["user_id"]: r["score"] for r in got.collect()}
    assert m[1] == 111.0 and m[50] == 500.0 and len(m) == 8
    assert 2 not in m and 3 not in m  # the other deletes held
    # the merge rewrote the snapshot: DV gone from the new manifest
    mm = read_manifest(root, txn.latest_version(root))
    assert "dv" not in mm and mm["rows"] == 8

    # compaction purges the DV on a fresh table too
    root2 = str(tmp_path / "t2")
    _flat(spark, root2)
    delete_where(spark, root2, [("user_id", ">=", 8)], mode="dv")
    stats = compact_manifest(spark, root2, min_files=None)
    assert stats["committed"] and stats["rows"] == 8
    m2 = read_manifest(root2, txn.latest_version(root2))
    assert "dv" not in m2 and m2["rows"] == 8
    assert _ids(spark, root2) == list(range(8))

    # flat upsert over a DV'd base keeps deletes and lands updates
    root3 = str(tmp_path / "t3")
    _flat(spark, root3)
    delete_where(spark, root3, [("user_id", "=", 0)], mode="dv")
    upsert_manifest(
        spark.createDataFrame([(9, 99.0, 2)],
                              "user_id bigint, score double, ts bigint"),
        root3, ["user_id"], "ts",
    )
    got, _ = read_table(spark, root3)
    m3 = {r["user_id"]: r["score"] for r in got.collect()}
    assert 0 not in m3 and m3[9] == 99.0 and len(m3) == 9
    assert "dv" not in read_manifest(root3, txn.latest_version(root3))


def test_dv_partitioned_upsert_reads_live_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    _part(spark, root)
    delete_where(spark, root, [("user_id", "=", 0)], mode="dv")
    # merge-mode upsert into the DV'd partition: deleted row must NOT
    # resurrect through the base merge
    upsert_manifest_partitioned(
        spark.createDataFrame([(1, 11.0, 2, D1)],
                              "user_id bigint, score double, ts bigint, p date"),
        root, ["user_id"], "ts", "p",
    )
    got, _ = read_table(spark, root)
    m = {r["user_id"]: r["score"] for r in got.collect()}
    assert 0 not in m and m[1] == 11.0 and len(m) == 9
    # the touched partition's new entry is clean
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    assert "dv" not in parts[txn._pkey(D1)]


def test_dv_cdc_sees_deletes_even_with_partition_skip(spark, tmp_path):
    root = str(tmp_path / "t")
    _part(spark, root)
    delete_where(spark, root, [("user_id", "=", 2)], mode="dv")
    ch = table_changes(
        spark, root, 1, 2, key_cols=["user_id", "p"],
    ).collect()
    assert {(r["user_id"], r["status"]) for r in ch} == {(2, "removed")}


def test_dv_metadata_verbs_carry_and_clone(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    delete_where(spark, root, [("user_id", "<", 5)], mode="dv")
    # metadata-only verbs must CARRY the dv (a drop would resurrect)
    rename_column(root, "score", "points")
    assert _ids(spark, root) == list(range(5, 10))
    # restore to the pre-delete version sees all rows; restore back
    restore(root, version=1)
    assert _ids(spark, root) == list(range(10))
    restore(root, version=2)
    assert _ids(spark, root) == list(range(5, 10))
    # clones keep the deletes (shallow re-points, deep copies)
    shallow, deep = str(tmp_path / "s"), str(tmp_path / "d")
    clone_table(root, shallow, deep=False)
    clone_table(root, deep, deep=True)
    assert _ids(spark, shallow) == list(range(5, 10))
    assert _ids(spark, deep) == list(range(5, 10))
    dv_dir = read_manifest(deep, 1)["dv"]["dir"]
    assert not dv_dir.startswith("/")  # deep copy is root-relative


def test_dv_vacuum_retains_live_and_prunes_dead_sidecars(spark, tmp_path):
    import os

    root = str(tmp_path / "t")
    _flat(spark, root)
    delete_where(spark, root, [("user_id", "=", 1)], mode="dv")   # v2
    delete_where(spark, root, [("user_id", "=", 2)], mode="dv")   # v3
    dv2 = read_manifest(root, 2)["dv"]["dir"]
    dv3 = read_manifest(root, 3)["dv"]["dir"]
    removed = vacuum(root, keep_last=1)
    # v2's superseded sidecar pruned, tip's sidecar retained
    assert dv2 in removed
    assert os.path.isdir(os.path.join(root, dv3))
    assert _ids(spark, root) == [0] + list(range(3, 10))
    # orphan pass never touches a referenced sidecar
    removed = vacuum(root, keep_last=1, orphan_grace_seconds=0.0)
    assert dv3 not in removed
    assert _ids(spark, root) == [0] + list(range(3, 10))


def test_dv_mode_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    with pytest.raises(ValueError, match="mode"):
        delete_where(spark, root, [("user_id", "=", 1)], mode="bogus")


def test_update_where_flat_snapshot_rewrite(spark, tmp_path):
    """UPDATE on an unpartitioned table (previously refused): snapshot
    rewrite with the same literal-SET semantics as the partitioned
    arm, CHECK constraints enforced, deletion vectors read through
    and purged by the rewrite."""
    from feature_store_spark.pipelines.txn import add_constraint, update_where

    root = str(tmp_path / "t")
    _flat(spark, root)
    delete_where(spark, root, [("user_id", "=", 9)], mode="dv")
    res = update_where(
        spark, root, [("user_id", "<", 2)], {"score": 100.0}
    )
    assert res["committed"] and res["rows_updated"] == 2
    got, _ = read_table(spark, root)
    m = {r["user_id"]: r["score"] for r in got.collect()}
    assert m[0] == 100.0 and m[1] == 100.0 and m[2] == 2.0
    assert 9 not in m  # the DV held through the rewrite
    assert "dv" not in read_manifest(root, txn.latest_version(root))
    # zero matches publish nothing
    res = update_where(spark, root, [("user_id", "=", 777)], {"score": 1.0})
    assert not res["committed"]
    # constraints still gate the update
    add_constraint(spark, root, "nonneg", "score >= 0")
    with pytest.raises(ValueError, match="nonneg"):
        update_where(spark, root, [("user_id", "=", 3)], {"score": -5.0})
    got, _ = read_table(spark, root)
    assert got.filter("user_id = 3").collect()[0]["score"] == 3.0


def test_purge_deletes_rewrites_only_dv_leaves(spark, tmp_path):
    """REORG APPLY (PURGE) analogue: only DV'd leaves rewrite; clean
    leaves carry forward byte-identically; sidecars drop; deleted
    rows stay gone. No-op on a DV-free table."""
    from feature_store_spark.pipelines.txn import purge_deletes

    root = str(tmp_path / "t")
    _part(spark, root)
    assert not purge_deletes(spark, root)["committed"]  # no DVs yet
    delete_where(spark, root, [("user_id", "=", 1)], mode="dv")
    parts_before = txn.resolve_partitions(root, txn.latest_version(root))
    d2_dir = parts_before[txn._pkey(D2)]["dir"]
    res = purge_deletes(spark, root)
    assert res["committed"]
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    assert "dv" not in parts[txn._pkey(D1)]
    assert parts[txn._pkey(D1)]["rows"] == 4
    assert parts[txn._pkey(D2)]["dir"] == d2_dir  # untouched leaf
    assert _ids(spark, root) == [0, 2, 3, 4, 100, 101, 102, 103, 104]
    # flat table purge
    root2 = str(tmp_path / "t2")
    _flat(spark, root2)
    delete_where(spark, root2, [("user_id", "<", 5)], mode="dv")
    res = purge_deletes(spark, root2)
    assert res["committed"] and res["rows"] == 5
    m2 = read_manifest(root2, txn.latest_version(root2))
    assert "dv" not in m2
    assert _ids(spark, root2) == list(range(5, 10))


def test_table_files_surfaces_dv(spark, tmp_path):
    from feature_store_spark.pipelines.txn import table_files

    root = str(tmp_path / "t")
    _part(spark, root)
    delete_where(spark, root, [("user_id", "<", 2)], mode="dv")
    rows = {r["partition"]: r["dv_deleted"]
            for r in table_files(spark, root).collect()}
    assert rows[txn._pkey(D1)] == 2 and rows[txn._pkey(D2)] is None


def test_dv_debt_gauge_and_maintenance_purge(spark, tmp_path):
    """engine_metrics exposes dv_deleted_rows (the purge trigger);
    run_table_maintenance(purge_dv_above=N) rewrites the DV'd leaves
    when the debt exceeds N and reports dv_purged."""
    from feature_store_spark.pipelines.drivers import run_table_maintenance
    from feature_store_spark.pipelines.txn import engine_metrics

    root = str(tmp_path / "t")
    _flat(spark, root)
    delete_where(spark, root, [("user_id", "<", 3)], mode="dv")

    def gauges():
        return {
            r["metric"]: r["value"]
            for r in engine_metrics(spark, {"t": root}).collect()
        }

    def debt():
        return gauges()["dv_deleted_rows"]

    assert debt() == 3.0
    # merge-on-read update debt has its own gauge; the partition
    # gauge counts ENTRIES, not dirs (extras must not inflate it)
    txn.update_where(spark, root, [("user_id", "=", 5)],
                     {"score": 5.5}, mode="dv")
    g = gauges()
    assert g["extra_dirs"] == 1.0 and g["partitions"] == 1.0
    assert g["dv_deleted_rows"] == 4.0
    # below threshold: no purge
    rep = run_table_maintenance(
        spark, root, min_files=9999, keep_last=10, purge_dv_above=5
    )
    assert not rep["dv_purged"] and debt() == 4.0
    # above threshold: purge fires, both debts clear, rows correct
    rep = run_table_maintenance(
        spark, root, min_files=9999, keep_last=10, purge_dv_above=2
    )
    assert rep["dv_purged"] and debt() == 0.0
    assert gauges()["extra_dirs"] == 0.0
    assert _ids(spark, root) == list(range(3, 10))
    got, _ = read_table(spark, root)
    assert {r["score"] for r in got.collect() if r["user_id"] == 5} == {5.5}


def test_concurrent_dv_deletes_lose_no_delete(spark, tmp_path):
    """Two live threads interleaving DV deletes over disjoint keys:
    the optimistic retry must UNION the racing sidecars — every
    delete from both writers lands, none resurrects."""
    import threading

    root = str(tmp_path / "t")
    _flat(spark, root, n=20)
    errors = []

    def deleter(keys):
        try:
            for k in keys:
                delete_where(spark, root, [("user_id", "=", k)], mode="dv")
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t1 = threading.Thread(target=deleter, args=([0, 1, 2],))
    t2 = threading.Thread(target=deleter, args=([10, 11, 12],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors
    assert _ids(spark, root) == [3, 4, 5, 6, 7, 8, 9] + list(range(13, 20))
    m = read_manifest(root, txn.latest_version(root))
    assert m["dv"]["deleted"] == 6 and m["rows"] == 14
    assert txn.latest_version(root) == 7  # 1 base + 6 dv commits


def test_dv_composes_with_column_mapping(spark, tmp_path):
    """Sidecars are (file, position) — column-name independent: a
    rename before AND after a DV delete changes nothing about which
    rows are deleted, and the DV predicate binds to the CURRENT
    logical name."""
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "score", "points")
    delete_where(spark, root, [("points", "<", 3.0)], mode="dv")
    got, _ = read_table(spark, root)
    assert sorted(r["user_id"] for r in got.collect()) == list(range(3, 10))
    assert "points" in got.columns
    rename_column(root, "points", "score2")
    got, _ = read_table(spark, root)
    assert sorted(r["user_id"] for r in got.collect()) == list(range(3, 10))
    # protocol carries BOTH features
    proto = read_manifest(root, txn.latest_version(root))["protocol"]
    assert {"column_mapping", "deletion_vectors"} <= set(proto["reader"])


def test_register_tables_sql_front_door(spark, tmp_path):
    """spark.sql over registered manifest views: deletion vectors,
    column mapping, version pinning, and snapshot isolation all apply
    through the read_table-backed temp views."""
    from feature_store_spark.pipelines.txn import register_tables

    users = str(tmp_path / "users")
    scores = str(tmp_path / "scores")
    _flat(spark, users)
    upsert_manifest(
        spark.createDataFrame(
            [(i, i * 10, 1) for i in range(10)],
            "user_id bigint, pts bigint, ts bigint",
        ),
        scores, ["user_id"], "ts",
    )
    delete_where(spark, users, [("user_id", "<", 8)], mode="dv")
    rename_column(scores, "pts", "points")
    pinned = register_tables(
        spark, {"u": users, "s": scores}, prefix="fs_"
    )
    assert pinned == {"u": 2, "s": 2}
    rows = spark.sql(
        "SELECT u.user_id, u.score, s.points FROM fs_u u "
        "JOIN fs_s s USING (user_id) ORDER BY user_id"
    ).collect()
    assert [(r["user_id"], r["points"]) for r in rows] == [(8, 80), (9, 90)]
    # snapshot isolation: a later commit does not shift the view
    delete_where(spark, users, [("user_id", "=", 9)], mode="dv")
    assert spark.sql("SELECT count(*) AS n FROM fs_u").collect()[0]["n"] == 2
    # explicit version pin time-travels
    register_tables(spark, {"u": users}, versions={"u": 1}, prefix="old_")
    assert spark.sql("SELECT count(*) AS n FROM old_u").collect()[0]["n"] == 10


def test_repartition_table_layout_evolution(spark, tmp_path):
    """Partition-spec evolution: flat -> partitioned (stats recorded,
    data skipping works), partitioned -> re-keyed, partitioned ->
    flat. History time-travels under each layout; DVs purge through
    the rewrite; column mapping carries."""
    from feature_store_spark.pipelines.txn import (
        repartition_table,
        resolve_partitions,
    )

    root = str(tmp_path / "t")
    upsert_manifest(
        spark.createDataFrame(
            [(i, float(i), 1, D1 if i < 5 else D2) for i in range(10)],
            "user_id bigint, score double, ts bigint, p date",
        ),
        root, ["user_id"], "ts",
    )
    delete_where(spark, root, [("user_id", "=", 0)], mode="dv")
    rename_column(root, "score", "points")

    # flat -> partitioned by p, with user_id stats
    res = repartition_table(spark, root, "p", stats_cols=["user_id"])
    assert res["committed"] and res["partitions"] == 2 and res["rows"] == 9
    parts = resolve_partitions(root, res["version"])
    assert parts[txn._pkey(D1)]["rows"] == 4  # user 0's DV purged
    assert "dv" not in parts[txn._pkey(D1)]
    assert parts[txn._pkey(D1)]["stats"]["user_id"]["max"] is not None
    # data skipping on the new layout: one partition read for D1
    got, _ = read_table(spark, root, partition_values=[D1])
    assert sorted(r["user_id"] for r in got.collect()) == [1, 2, 3, 4]
    assert "points" in got.columns  # mapping carried

    # partitioned table verbs now apply (layout really switched)
    upsert_manifest_partitioned(
        spark.createDataFrame(
            [(50, 5.0, 2, D1)],
            "user_id bigint, points double, ts bigint, p date",
        ),
        root, ["user_id"], "ts", "p",
    )
    assert 50 in set(_ids(spark, root))

    # re-key: partitioned by p -> partitioned by user_id
    res = repartition_table(spark, root, "user_id")
    assert res["committed"] and res["partitions"] == 10

    # -> flat again
    res = repartition_table(spark, root, None)
    assert res["committed"] and res["rows"] == 10
    m = read_manifest(root, res["version"])
    assert "data_dir" in m and "partitions" not in m

    # every layout era still time-travels
    v1, _ = read_table(spark, root, 1)
    assert v1.count() == 10 and "score" in v1.columns
    # NULL partition values refused
    root2 = str(tmp_path / "t2")
    upsert_manifest(
        spark.createDataFrame([(1, None)], "user_id bigint, p date"),
        root2, ["user_id"], "user_id",
    )
    with pytest.raises(ValueError, match="NULL"):
        repartition_table(spark, root2, "p")


# ---------------------------------------------------------------------------
# Merge-on-read UPDATE (round 9: update_where(mode="dv") + extra_dirs)
# ---------------------------------------------------------------------------


def _scores(spark, root, version=None):
    got, _ = read_table(spark, root, version)
    return {r["user_id"]: r["score"] for r in got.collect()}


def test_dv_update_flat_matches_rewrite_and_time_travels(spark, tmp_path):
    """The DV-backed UPDATE must be row-for-row identical to the
    rewrite arm, leave live counts unchanged, append O(changed rows),
    and keep old versions name- and value-faithful."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _flat(spark, a)
    _flat(spark, b)
    where, sets = [("user_id", "<", 3)], {"score": 99.0}
    r_dv = txn.update_where(spark, a, where, sets, mode="dv")
    r_rw = txn.update_where(spark, b, where, sets, mode="rewrite")
    assert r_dv["committed"] and r_rw["committed"]
    assert r_dv["rows_updated"] == r_rw["rows_updated"] == 3
    assert _scores(spark, a) == _scores(spark, b)
    m = read_manifest(a, 2)
    assert m["rows"] == 10  # live count unchanged: 3 deleted + 3 appended
    assert len(m["extra_dirs"]) == 1
    assert m["dv"]["deleted"] == 3
    assert {"deletion_vectors", "extra_dirs"} <= set(m["protocol"]["reader"])
    # time travel: v1 pre-update
    assert _scores(spark, a, 1)[0] == 0.0
    # a second DV update stacks (extras accumulate, DV unions)
    txn.update_where(spark, a, [("user_id", "=", 0)], {"score": 5.5}, mode="dv")
    s = _scores(spark, a)
    assert s[0] == 5.5 and s[1] == 99.0 and len(s) == 10
    m = read_manifest(a, 3)
    # second update deleted ONE live row (the first update's image,
    # which lives in the extra dir — the DV reaches extras too)
    assert len(m["extra_dirs"]) == 2 and m["dv"]["deleted"] == 4


def test_dv_update_partitioned_stats_and_skipping_stay_safe(spark, tmp_path):
    """SET-column stats are dropped on touched leaves (a stale window
    would mis-prune the appended images); untouched columns keep
    theirs; untouched leaves carry forward byte-identically."""
    root = str(tmp_path / "t")
    _part(spark, root)
    r = txn.update_where(
        spark, root, [("user_id", "<", 2)], {"score": 777.0}, mode="dv"
    )
    assert r["committed"] and r["rows_updated"] == 2
    assert r["partitions_rewritten"] == 1
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    touched = parts[txn._pkey(D1)]
    assert touched.get("extra_dirs") and touched["dv"]["deleted"] == 2
    assert touched["rows"] == 5
    assert "user_id" in touched["stats"]  # un-SET column keeps stats
    cold = parts[txn._pkey(D2)]
    assert not cold.get("extra_dirs") and not cold.get("dv")
    # a probe for the NEW value still finds the rows (no stale skip)
    got, _ = read_table(spark, root, where=[("score", "=", 777.0)])
    assert sorted(r_["user_id"] for r_ in got.collect()) == [0, 1]
    s = _scores(spark, root)
    assert s[0] == 777.0 and s[1] == 777.0 and s[4] == 4.0 and len(s) == 10


def test_dv_update_then_dv_delete_compose(spark, tmp_path):
    """A DV delete after a DV update must carry the extras (the
    updated images stay live) and can delete an UPDATED row via its
    new value — the DV applies across base + extra dirs."""
    root = str(tmp_path / "t")
    _flat(spark, root)
    txn.update_where(spark, root, [("user_id", "<", 3)], {"score": 99.0}, mode="dv")
    # delete by the NEW value: the hit position lives in the extra dir
    r = delete_where(spark, root, [("score", "=", 99.0)], mode="dv")
    assert r["rows_deleted"] == 3
    m = read_manifest(root, txn.latest_version(root))
    assert m["extra_dirs"]  # carried, not dropped
    assert m["rows"] == 7
    s = _scores(spark, root)
    assert len(s) == 7 and 0 not in s and 5 in s


def test_dv_update_purge_and_rewriting_verbs_fold_extras(spark, tmp_path):
    """purge_deletes (and any rewriting verb) folds the merge-on-read
    debt back into clean single-dir leaves — values preserved, extras
    and DV gone."""
    root = str(tmp_path / "t")
    _part(spark, root)
    txn.update_where(spark, root, [("user_id", "<", 2)], {"score": 7.0}, mode="dv")
    before = _scores(spark, root)
    res = txn.purge_deletes(spark, root)
    assert res["committed"]
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    assert all(
        not e.get("extra_dirs") and not e.get("dv") for e in parts.values()
    )
    assert _scores(spark, root) == before
    # flat: an ordinary rewrite-arm update folds extras too
    root2 = str(tmp_path / "t2")
    _flat(spark, root2)
    txn.update_where(spark, root2, [("user_id", "=", 0)], {"score": 1.5}, mode="dv")
    txn.update_where(spark, root2, [("user_id", "=", 1)], {"score": 2.5}, mode="rewrite")
    m = read_manifest(root2, txn.latest_version(root2))
    assert not m.get("extra_dirs") and not m.get("dv")
    s = _scores(spark, root2)
    assert s[0] == 1.5 and s[1] == 2.5


def test_dv_update_cdc_vacuum_clone_restore_matrix(spark, tmp_path):
    """The DV-update invariants matrix: CDC pairs the update as
    'changed' (reading only the changed leaf), vacuum keeps referenced
    extras and prunes superseded ones, clones carry the merged view,
    restore re-points extras."""
    root = str(tmp_path / "t")
    _part(spark, root)
    txn.update_where(spark, root, [("user_id", "=", 0)], {"score": 50.0}, mode="dv")
    ch = table_changes(spark, root, 1, 2, key_cols=("user_id", "p"))
    st = {r["user_id"]: r["status"] for r in ch.collect()}
    assert st[0] == "changed" and 100 not in st  # cold partition skipped
    # clone both ways; read back the merged view
    sh, dp = str(tmp_path / "sh"), str(tmp_path / "dp")
    clone_table(root, sh, deep=False)
    clone_table(root, dp, deep=True)
    for c in (sh, dp):
        assert _scores(spark, c)[0] == 50.0
    # restore to v1 then back: extras travel with their version
    restore(root, version=1)
    assert _scores(spark, root)[0] == 0.0
    restore(root, version=2)
    assert _scores(spark, root)[0] == 50.0
    m = read_manifest(root, txn.latest_version(root))
    entries = txn.resolve_partitions(root, txn.latest_version(root))
    assert any(e.get("extra_dirs") for e in entries.values())
    # vacuum to the tip: the restored tip still reads (extras kept)
    vacuum(root, keep_last=1)
    assert _scores(spark, root)[0] == 50.0
    # table_files gauges the debt
    tf = {r["partition"]: r for r in txn.table_files(spark, root).collect()}
    d1 = [v for v in tf.values() if v["extra_dirs"] == 1]
    assert len(d1) == 1 and d1[0]["dv_deleted"] == 1


def test_dv_update_enforces_constraints_on_new_images(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    txn.add_constraint(spark, root, "score_cap", "score <= 100")
    with pytest.raises(ValueError, match="score_cap"):
        txn.update_where(
            spark, root, [("user_id", "=", 0)], {"score": 1000.0}, mode="dv"
        )
    # nothing half-committed, no orphan extras in the manifest
    m = read_manifest(root, txn.latest_version(root))
    assert not m.get("extra_dirs") and not m.get("dv")
    txn.update_where(spark, root, [("user_id", "=", 0)], {"score": 50.0}, mode="dv")
    assert _scores(spark, root)[0] == 50.0


def test_dv_update_mode_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    with pytest.raises(ValueError, match="mode"):
        txn.update_where(spark, root, [("user_id", "=", 0)], {"score": 1.0}, mode="nope")
    with pytest.raises(ValueError, match="not in the table schema"):
        txn.update_where(spark, root, [("user_id", "=", 0)], {"nope": 1.0}, mode="dv")
    # zero matches publish no version
    r = txn.update_where(spark, root, [("user_id", "=", 999)], {"score": 1.0}, mode="dv")
    assert not r["committed"] and txn.latest_version(root) == 1


# ---------------------------------------------------------------------------
# Merge-on-read MERGE (round 9: merge_into(mode="dv"))
# ---------------------------------------------------------------------------


def _merge_src(spark):
    return spark.createDataFrame(
        [(2, 22.0), (3, 33.0), (7, 77.0), (100, 1.0)],
        "user_id bigint, val double",
    )


_MERGE_CLAUSES = dict(
    when_matched=[("s.user_id = 3", "delete"), (None, {"score": "s.val"})],
    when_not_matched=(
        None, {"user_id": "s.user_id", "score": "s.val", "ts": "9"},
    ),
    when_not_matched_by_source=[("t.user_id = 9", "delete")],
)


def test_dv_merge_flat_matches_rewrite_arm(spark, tmp_path):
    """All three MERGE verbs (update / delete / insert / delete-by-
    source) through the merge-on-read arm must be row-identical to
    the rewrite arm, with live counts and accounting equal."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _flat(spark, a)
    _flat(spark, b)
    src = _merge_src(spark)
    r_dv = merge_into(spark, a, src, ["user_id"], mode="dv", **_MERGE_CLAUSES)
    r_rw = merge_into(spark, b, src, ["user_id"], **_MERGE_CLAUSES)
    for k in ("rows_updated", "rows_deleted", "rows_inserted", "committed"):
        assert r_dv[k] == r_rw[k], k
    assert _scores(spark, a) == _scores(spark, b)
    m = read_manifest(a, 2)
    # 2 upd + 2 del (one matched-delete, one by-source) hit the DV;
    # 2 upd images + 1 insert appended; live rows 10 - 2 + 1
    assert m["rows"] == 9
    assert m["dv"]["deleted"] == 4
    assert len(m["extra_dirs"]) == 1
    # base leaf untouched
    assert m["data_dir"] == read_manifest(a, 1)["data_dir"]


def test_dv_merge_partitioned_inserts_new_partition(spark, tmp_path):
    """Inserts may create a brand-new partition whose base dir IS the
    append dir; touched leaves take DV + extras; insert-receiving
    leaves drop all skipping metadata (an inserted value can fall
    anywhere)."""
    root = str(tmp_path / "t")
    _part(spark, root)
    D3 = datetime.date(2024, 1, 3)
    src = spark.createDataFrame(
        [(1, 11.0, 9, D1), (2, 0.0, 9, D1), (103, 13.0, 9, D2),
         (200, 20.0, 9, D3), (300, 30.0, 9, D2)],
        "user_id bigint, score double, ts bigint, p date",
    )
    r = merge_into(
        spark, root, src, ["user_id"], mode="dv",
        when_matched=[("s.user_id = 2", "delete"),
                      (None, {"score": "s.score"})],
        when_not_matched=(None, None),
    )
    assert r["committed"]
    assert (r["rows_updated"], r["rows_deleted"], r["rows_inserted"]) == (2, 1, 2)
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    e1, e2 = parts[txn._pkey(D1)], parts[txn._pkey(D2)]
    e3 = parts[txn._pkey(D3)]
    assert e1["rows"] == 4 and e1["dv"]["deleted"] == 2 and e1["extra_dirs"]
    # D1 got updates only: un-assigned column keeps stats
    assert "user_id" in e1.get("stats", {})
    # D2 received an INSERT: all skipping metadata dropped
    assert e2["rows"] == 6 and not e2.get("stats")
    assert e3 == {"dir": e3["dir"], "rows": 1}
    got, _ = read_table(spark, root)
    rows = {r_["user_id"]: r_["score"] for r_ in got.collect()}
    assert rows[1] == 11.0 and 2 not in rows and rows[200] == 20.0
    assert rows[300] == 30.0 and len(rows) == 11
    # CDC pairs across the merge-on-read commit
    ch = table_changes(spark, root, 1, 2, key_cols=("user_id",))
    st = {r_["user_id"]: r_["status"] for r_ in ch.collect()}
    assert st[1] == "changed" and st[2] == "removed" and st[200] == "added"


def test_dv_merge_txn_constraints_and_purge(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    txn.add_constraint(spark, root, "cap", "score <= 100")
    src = _merge_src(spark)
    # a violating UPDATE image aborts before any commit
    with pytest.raises(ValueError, match="cap"):
        merge_into(
            spark, root, src, ["user_id"], mode="dv",
            when_matched=[(None, {"score": "s.val * 100"})],
        )
    assert txn.latest_version(root) == 2  # only the constraint commit
    r = merge_into(
        spark, root, src, ["user_id"], mode="dv", txn=("m", 7),
        **_MERGE_CLAUSES,
    )
    assert r["committed"]
    # replay skipped (exactly-once through the merge-on-read arm)
    rr = merge_into(
        spark, root, src, ["user_id"], mode="dv", txn=("m", 7),
        **_MERGE_CLAUSES,
    )
    assert rr["txn_skipped"]
    before = _scores(spark, root)
    txn.purge_deletes(spark, root)
    assert _scores(spark, root) == before
    m = read_manifest(root, txn.latest_version(root))
    assert not m.get("dv") and not m.get("extra_dirs")


def test_dv_merge_mode_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    src = _merge_src(spark)
    with pytest.raises(ValueError, match="mode"):
        merge_into(spark, root, src, ["user_id"], mode="nope",
                   when_matched=[(None, {"score": "s.val"})])
    with pytest.raises(ValueError, match="evolve"):
        merge_into(spark, root, src, ["user_id"], mode="dv",
                   allow_schema_evolution=True,
                   when_matched=[(None, {"score": "s.val"})])
    # zero matches publish no version
    empty = spark.createDataFrame([], "user_id bigint, val double")
    r = merge_into(spark, root, empty, ["user_id"], mode="dv",
                   when_matched=[(None, {"score": "s.val"})])
    assert not r["committed"] and txn.latest_version(root) == 1


def test_dv_merge_delete_everything_in_partition(spark, tmp_path):
    """A leaf whose every live row dies with nothing appended leaves
    the map — same rule as the DV delete arm."""
    root = str(tmp_path / "t")
    _part(spark, root)
    src = spark.createDataFrame(
        [(i,) for i in range(5)], "user_id bigint"
    )
    r = merge_into(
        spark, root, src, ["user_id"], mode="dv",
        when_matched=[(None, "delete")],
    )
    assert r["rows_deleted"] == 5 and r["partitions_removed"] == 1
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    assert set(parts) == {txn._pkey(D2)}
    assert _ids(spark, root) == list(range(100, 105))


# ---------------------------------------------------------------------------
# rewrite ≡ merge-on-read, per verb and layout
# ---------------------------------------------------------------------------


def _layout(spark, root, layout):
    """The _part rows, partitioned by p or as one flat leaf."""
    if layout == "partitioned":
        _part(spark, root)
        return
    rows = [(i, float(i), 1, D1) for i in range(5)] + [
        (i, float(i), 1, D2) for i in range(100, 105)
    ]
    upsert_manifest(
        spark.createDataFrame(
            rows, "user_id bigint, score double, ts bigint, p date"
        ),
        root, ["user_id"], "ts",
    )


def _change(spark, root, verb, mode):
    if verb == "delete":
        # empties D1 (a partitioned leaf leaves the map), trims D2
        return delete_where(
            spark, root, [("user_id", "in", [0, 1, 2, 3, 4, 101])],
            mode=mode,
        )
    if verb == "update":
        return txn.update_where(
            spark, root, [("user_id", "in", [1, 102])], {"score": 9.5},
            mode=mode,
        )
    src = spark.createDataFrame(
        [(2, 22.0, D1), (3, 33.0, D1), (102, 7.0, D2), (200, 1.0, D2),
         (300, 3.0, datetime.date(2024, 1, 3))],
        "user_id bigint, val double, p date",
    )
    return merge_into(
        spark, root, src, ["user_id"], mode=mode,
        when_matched=[("s.user_id = 3", "delete"),
                      (None, {"score": "s.val"})],
        when_not_matched=(None, {
            "user_id": "s.user_id", "score": "s.val", "ts": "9",
            "p": "s.p",
        }),
        when_not_matched_by_source=[("t.user_id = 104", "delete")],
    )


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
@pytest.mark.parametrize("verb", ["delete", "update", "merge"])
def test_dv_matches_rewrite(spark, tmp_path, verb, layout):
    """Both publish steps of one change plan agree: the same rows read
    back and the same accounting, whichever verb and layout."""
    a, b = str(tmp_path / "dv"), str(tmp_path / "rw")
    _layout(spark, a, layout)
    _layout(spark, b, layout)
    r_dv = _change(spark, a, verb, "dv")
    r_rw = _change(spark, b, verb, "rewrite")
    assert r_dv["committed"]
    assert r_dv == r_rw
    got_dv, _ = read_table(spark, a)
    got_rw, _ = read_table(spark, b)
    assert sorted(got_dv.collect()) == sorted(got_rw.collect())
    m = read_manifest(a, 2)
    assert "deletion_vectors" in m["protocol"]["reader"]
