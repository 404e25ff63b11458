"""Reader/writer protocol guard (Delta minReaderVersion / table-
features analogue): manifests that require a table feature carry it
in ``protocol``; an engine build that doesn't implement a required
reader feature refuses to READ (misinterpreting bytes is the
alternative), an unimplemented writer feature refuses to WRITE but
still reads. VERDICT r7 design gap: before this, a pre-column-mapping
reader would silently serve PHYSICAL column names on a renamed
table."""
from __future__ import annotations

import json

import pytest

from feature_store_spark.pipelines.txn import (
    _manifest_path,
    add_constraint,
    clone_table,
    latest_version,
    merge_into,
    read_manifest,
    read_table,
    rename_column,
    restore,
    table_history,
    upsert_manifest,
)


def _commit(spark, root, rows=((1, 1.0, 1), (2, 2.0, 1))):
    upsert_manifest(
        spark.createDataFrame(
            list(rows), "user_id bigint, score double, ts bigint"
        ),
        root, ["user_id"], "ts",
    )


def _doctor(root, version, reader=(), writer=()):
    """Inject protocol features a FUTURE engine build would write."""
    path = _manifest_path(root, version)
    with open(path) as f:
        m = json.load(f)
    proto = m.get("protocol") or {}
    m["protocol"] = {
        "reader": sorted(set(proto.get("reader") or []) | set(reader)),
        "writer": sorted(set(proto.get("writer") or []) | set(writer)),
    }
    with open(path, "w") as f:
        json.dump(m, f)


def test_unknown_reader_feature_refuses_read(spark, tmp_path):
    root = str(tmp_path / "t")
    _commit(spark, root)
    read_table(spark, root)  # fine before doctoring
    _doctor(root, 1, reader=["deletion_vectors_v9"])
    with pytest.raises(ValueError, match="cannot READ.*deletion_vectors_v9"):
        read_table(spark, root)
    # writes are refused too (every write starts from a read)
    with pytest.raises(ValueError, match="deletion_vectors_v9"):
        _commit(spark, root, [(3, 3.0, 2)])


def test_unknown_writer_feature_reads_but_refuses_write(spark, tmp_path):
    root = str(tmp_path / "t")
    _commit(spark, root)
    _commit(spark, root, [(3, 3.0, 2)])
    _doctor(root, 2, writer=["row_tracking_v9"])
    got, v = read_table(spark, root)
    assert got.count() == 3 and v == 2  # still readable
    with pytest.raises(ValueError, match="cannot WRITE.*row_tracking_v9"):
        _commit(spark, root, [(4, 4.0, 3)])
    with pytest.raises(ValueError, match="cannot WRITE"):
        merge_into(
            spark, root,
            spark.createDataFrame([(1,)], "user_id bigint"),
            ["user_id"], when_matched=[(None, {"score": "0.0"})],
        )
    # restoring an OLDER snapshot still commits on top of the tip, so
    # the tip's unknown writer feature refuses it too (it must not be
    # dropped from the protocol by re-publishing v1's manifest fields)
    with pytest.raises(ValueError, match="cannot WRITE.*row_tracking_v9"):
        restore(root, version=1)
    assert latest_version(root) == 2


def test_features_auto_stamped_and_carried(spark, tmp_path):
    root = str(tmp_path / "t")
    _commit(spark, root)
    assert "protocol" not in read_manifest(root, 1)  # plain table: none
    rename_column(root, "score", "points")
    m = read_manifest(root, latest_version(root))
    assert "column_mapping" in m["protocol"]["reader"]
    assert "column_mapping" in m["protocol"]["writer"]
    add_constraint(spark, root, "pos", "points >= 0")
    m = read_manifest(root, latest_version(root))
    assert "constraints" in m["protocol"]["writer"]
    assert "constraints" not in m["protocol"]["reader"]
    # an ordinary upsert CARRIES the accumulated protocol
    upsert_manifest(
        spark.createDataFrame([(9, 9.0, 5)],
                              "user_id bigint, points double, ts bigint"),
        root, ["user_id"], "ts", txn=("app", 1),
    )
    m = read_manifest(root, latest_version(root))
    assert set(m["protocol"]["reader"]) == {"column_mapping"}
    assert {"column_mapping", "constraints", "app_versions"} <= set(
        m["protocol"]["writer"]
    )
    # history surfaces the protocol bump: newest row carries features,
    # the v1 row none
    hist = {r["version"]: r["protocol"]
            for r in table_history(spark, root).collect()}
    assert hist[1] is None
    assert "column_mapping" in hist[latest_version(root)]


def test_shallow_clone_stamps_absolute_paths(spark, tmp_path):
    src = str(tmp_path / "src")
    shallow = str(tmp_path / "shallow")
    deep = str(tmp_path / "deep")
    _commit(spark, src)
    clone_table(src, shallow, deep=False)
    m = read_manifest(shallow, 1)
    assert "absolute_paths" in m["protocol"]["reader"]
    clone_table(src, deep, deep=True)
    assert "protocol" not in read_manifest(deep, 1)
    # this build implements absolute_paths: the clone still reads
    got, _ = read_table(spark, shallow)
    assert got.count() == 2
