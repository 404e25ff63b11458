"""Column rename via logical→physical column mapping
(txn.rename_column) — metadata-only rename; old versions read under
old names, data skipping keys re-point, CDC pairs across the rename,
writes after the rename land under physical names."""
from __future__ import annotations

import datetime

import pytest

import feature_store_spark.pipelines.txn as txn
from feature_store_spark.pipelines.txn import (
    compact_manifest,
    delete_where,
    merge_into,
    read_table,
    rename_column,
    schema_changes,
    table_changes,
    upsert_manifest,
    upsert_manifest_partitioned,
)

D1 = datetime.date(2024, 1, 1)
D2 = datetime.date(2024, 1, 2)


def _flat(spark, root, rows=None):
    df = spark.createDataFrame(
        rows or [(i, float(i), 1) for i in range(5)],
        "user_id bigint, score double, ts bigint",
    )
    upsert_manifest(df, root, ["user_id"], "ts")


def _part(spark, root):
    rows = [(i, float(i), 1, D1) for i in range(3)] + [
        (i, float(i), 1, D2) for i in range(100, 103)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, score double, ts bigint, p date"
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "ts", "p",
        stats_cols=["user_id"], bloom_cols=["user_id"],
    )


def test_rename_is_metadata_only_and_time_travel_faithful(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    d1 = txn.read_manifest(root, 1)["data_dir"]
    res = rename_column(root, "score", "points")
    assert res["committed"] and res["version"] == 2
    # zero data work: same data dir referenced
    assert txn.read_manifest(root, 2)["data_dir"] == d1
    got, _ = read_table(spark, root)
    assert got.columns == ["user_id", "points", "ts"]
    assert {r["points"] for r in got.collect()} == {0.0, 1.0, 2.0, 3.0, 4.0}
    # the OLD version still reads under the OLD name
    old, _ = read_table(spark, root, 1)
    assert old.columns == ["user_id", "score", "ts"]


def test_write_after_rename_roundtrips(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "score", "points")
    upd = spark.createDataFrame(
        [(0, 99.0, 2), (7, 7.0, 2)],
        "user_id bigint, points double, ts bigint",
    )
    upsert_manifest(upd, root, ["user_id"], "ts")
    got, _ = read_table(spark, root)
    m = {r["user_id"]: r["points"] for r in got.collect()}
    assert m[0] == 99.0 and m[7] == 7.0 and m[3] == 3.0
    # the physical files still store the ORIGINAL column name
    import pyarrow.parquet as pq
    import glob, os
    data_dir = os.path.join(root, txn.read_manifest(
        root, txn.latest_version(root))["data_dir"])
    f = glob.glob(os.path.join(data_dir, "*.parquet"))[0]
    assert "score" in pq.ParquetFile(f).schema_arrow.names
    assert "points" not in pq.ParquetFile(f).schema_arrow.names


def test_rename_partitioned_keeps_data_skipping(spark, tmp_path):
    root = str(tmp_path / "t")
    _part(spark, root)
    res = rename_column(root, "user_id", "uid")
    assert res["committed"]
    parts = txn.resolve_partitions(root, txn.latest_version(root))
    for e in parts.values():
        assert "uid" in e["stats"] and "user_id" not in e["stats"]
        assert "uid" in e["bloom"] and "user_id" not in e["bloom"]
    # probes under the NEW name prune + filter correctly
    got, _ = read_table(spark, root, where=[("uid", "=", 101)])
    assert [r["uid"] for r in got.collect()] == [101]
    got, _ = read_table(spark, root, where=[("uid", ">=", 100)])
    assert got.count() == 3


def test_rename_partition_column(spark, tmp_path):
    root = str(tmp_path / "t")
    _part(spark, root)
    rename_column(root, "p", "day")
    m = txn.read_manifest(root, txn.latest_version(root))
    assert m["partition_col"] == "day"
    got, _ = read_table(spark, root, partition_values=[D1])
    assert got.count() == 3 and "day" in got.columns
    # subsequent partitioned upsert under the new name
    upd = spark.createDataFrame(
        [(500, 5.0, 2, D2)],
        "user_id bigint, score double, ts bigint, day date",
    )
    upsert_manifest_partitioned(upd, root, ["user_id"], "ts", "day")
    got, _ = read_table(spark, root)
    assert got.count() == 7


def test_cdc_pairs_keys_across_rename(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "user_id", "uid")        # v2 (rename the KEY)
    upd = spark.createDataFrame(
        [(0, -1.0, 2)], "uid bigint, score double, ts bigint"
    )
    upsert_manifest(upd, root, ["uid"], "ts")    # v3
    # v1 -> v3 spans the rename: keys pair by physical identity
    ch = table_changes(spark, root, 1, 3, ["uid"]).collect()
    got = {(r["uid"], r["status"]) for r in ch}
    # no row reads as removed+added (the drop+add failure mode)
    assert got == {(0, "changed")}


def test_schema_changes_reports_rename_not_drop_add(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "score", "points")
    rows = schema_changes(spark, root).collect()
    by_change = {(r["version"], r["change"], r["column"]) for r in rows}
    assert (2, "renamed", "score->points") in by_change
    assert not any(c in ("added", "dropped") for _, c, _n in by_change)


def test_collision_with_renamed_away_physical_name_refused(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "score", "points")
    # re-adding a column literally named 'score' would collide with
    # points' physical residue
    bad = spark.createDataFrame(
        [(9, 1.0, 2, 5.0)],
        "user_id bigint, points double, ts bigint, score double",
    )
    with pytest.raises(ValueError, match="collision"):
        upsert_manifest(
            bad, root, ["user_id"], "ts", allow_schema_evolution=True
        )


def test_dml_and_merge_after_rename(spark, tmp_path):
    root = str(tmp_path / "t")
    _part(spark, root)
    rename_column(root, "score", "points")
    res = delete_where(spark, root, [("points", ">=", 102.0)])
    assert res["rows_deleted"] == 1
    src = spark.createDataFrame(
        [(0, 1000.0), (100, 0.0)], "user_id bigint, points double"
    )
    mres = merge_into(
        spark, root, src, ["user_id"],
        when_matched=[
            ("s.points = 0.0", "delete"),
            (None, {"points": "s.points"}),
        ],
    )
    assert (mres["rows_updated"], mres["rows_deleted"]) == (1, 1)
    got, _ = read_table(spark, root)
    m = {r["user_id"]: r["points"] for r in got.collect()}
    assert m[0] == 1000.0 and 100 not in m and 102 not in m


def test_compact_after_rename_preserves_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "score", "points")
    res = compact_manifest(spark, root)
    assert res["committed"]
    got, _ = read_table(spark, root)
    assert got.columns == ["user_id", "points", "ts"]
    assert got.count() == 5


def test_rename_rejects_bad_names(spark, tmp_path):
    root = str(tmp_path / "t")
    _flat(spark, root)
    with pytest.raises(ValueError, match="not a column"):
        rename_column(root, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(root, "score", "ts")
    with pytest.raises(ValueError, match="same name"):
        rename_column(root, "score", "score")


def test_rename_chain_back_to_original_name(spark, tmp_path):
    """a->b then b->a collapses the mapping back to identity."""
    root = str(tmp_path / "t")
    _flat(spark, root)
    rename_column(root, "score", "points")
    rename_column(root, "points", "score")
    m = txn.read_manifest(root, txn.latest_version(root))
    assert not (m.get("physical") or {})
    got, _ = read_table(spark, root)
    assert got.columns == ["user_id", "score", "ts"]
    assert got.count() == 5


def test_rename_carries_txn_watermarks_and_protocol(spark, tmp_path):
    """A rename is still a write: txn watermarks, protocol, and
    constraints established BEFORE the rename must survive it —
    otherwise a redelivered CDC batch after a rename double-applies
    (the exactly-once guarantee breaks on a metadata-only commit)."""
    root = str(tmp_path / "t")
    _flat(spark, root)
    src = spark.createDataFrame(
        [(3, 99.0)], "user_id bigint, val double"
    )
    res = merge_into(
        spark, root, src, ["user_id"],
        when_matched=[(None, {"score": "s.val"})], txn=("app", 5),
    )
    assert res["committed"]
    rename_column(root, "score", "points")
    m = txn.read_manifest(root, txn.latest_version(root))
    assert m.get("app_versions") == {"app": 5}
    assert "app_versions" in m["protocol"]["writer"]
    # the replayed batch is STILL skipped after the rename
    r = merge_into(
        spark, root, src, ["user_id"],
        when_matched=[(None, {"points": "s.val + 1"})], txn=("app", 5),
    )
    assert r["txn_skipped"] and not r["committed"]
    got, _ = read_table(spark, root)
    assert {x["points"] for x in got.collect() if x["user_id"] == 3} == {99.0}


def test_rename_on_shallow_clone_keeps_absolute_paths(spark, tmp_path):
    """A shallow clone's absolute_paths reader feature must not be
    auto-dropped by a rename (protocol invariant: features are never
    silently removed)."""
    src = str(tmp_path / "src")
    shallow = str(tmp_path / "shallow")
    _flat(spark, src)
    txn.clone_table(src, shallow, deep=False)
    assert "absolute_paths" in txn.read_manifest(shallow, 1)["protocol"]["reader"]
    rename_column(shallow, "score", "points")
    m = txn.read_manifest(shallow, txn.latest_version(shallow))
    assert "absolute_paths" in m["protocol"]["reader"]
    assert "column_mapping" in m["protocol"]["reader"]
    got, _ = read_table(spark, shallow)
    assert got.columns == ["user_id", "points", "ts"]
    assert got.count() == 5


def test_rename_carries_unrelated_constraints_and_retired(spark, tmp_path):
    """Constraints on OTHER columns and the retired-physical list ride
    through a rename verbatim; the protocol writer gate still sees
    them afterwards."""
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), i * 2, 1) for i in range(5)],
        "user_id bigint, score double, extra bigint, ts bigint",
    )
    upsert_manifest(df, root, ["user_id"], "ts")
    txn.add_constraint(spark, root, "uid_pos", "user_id >= 0")
    txn.drop_column(root, "extra")
    retired = txn._retired_physical(
        txn.read_manifest(root, txn.latest_version(root)))
    assert retired == ["extra"]
    rename_column(root, "score", "points")
    m = txn.read_manifest(root, txn.latest_version(root))
    assert txn._table_constraints(m) == [["uid_pos", "user_id >= 0"]]
    assert txn._retired_physical(m) == ["extra"]
    assert {"constraints", "retired_physical"} <= set(m["protocol"]["writer"])
    # the carried constraint is still ENFORCED after the rename
    bad = spark.createDataFrame(
        [(-1, 0.0, 9)], "user_id bigint, points double, ts bigint"
    )
    with pytest.raises(Exception, match="uid_pos"):
        upsert_manifest(bad, root, ["user_id"], "ts")
    # the retired physical name still refuses re-binding
    with_extra = spark.createDataFrame(
        [(7, 1.0, 9, 0)],
        "user_id bigint, points double, ts bigint, extra bigint",
    )
    with pytest.raises(ValueError, match="RETIRED"):
        upsert_manifest(
            with_extra, root, ["user_id"], "ts",
            allow_schema_evolution=True,
        )


def test_rename_of_constrained_column_refused(spark, tmp_path):
    """Renaming a column a CHECK constraint references would orphan
    the predicate — refused, same rule as drop_column."""
    root = str(tmp_path / "t")
    _flat(spark, root)
    txn.add_constraint(spark, root, "score_pos", "score >= 0")
    with pytest.raises(ValueError, match="score_pos"):
        rename_column(root, "score", "points")
    # drop-rename-readd is the documented path
    txn.drop_constraint(root, "score_pos")
    rename_column(root, "score", "points")
    txn.add_constraint(spark, root, "points_pos", "points >= 0")
    m = txn.read_manifest(root, txn.latest_version(root))
    assert txn._table_constraints(m) == [["points_pos", "points >= 0"]]
