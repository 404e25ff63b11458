"""Differential tests of ``txn.read_rows``, the driver-side keyed read
of a committed snapshot, against ``read_table(...).filter(key in keys)
.collect()`` — compared as multisets of Rows, over flat and
partitioned tables, merge-on-read DELETE/UPDATE/MERGE (deletion vectors
and appended dirs), renamed columns (column mapping), added columns
(null-fill), int→long and float→double widening, pre-1900 timestamps
and absent keys."""
from __future__ import annotations

import datetime
import decimal
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from feature_store_spark.pipelines.txn import (
    _leaves,
    add_column,
    delete_where,
    latest_version,
    merge_into,
    read_manifest,
    read_rows,
    read_table,
    rename_column,
    update_where,
    upsert_manifest,
    upsert_manifest_partitioned,
)

_settings = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)


def _multiset(rows):
    return sorted(repr(r) for r in rows)


def _assert_same(spark, root, key_col, keys):
    v = latest_version(root)
    df, _ = read_table(spark, root, version=v)
    if keys is not None:
        df = df.filter(F.col(key_col).isin(list(keys)))
    want = df.collect()
    got = read_rows(root, v, key_col, keys)
    assert _multiset(got) == _multiset(want)
    return got


def _rows(step, keys, wide, ncol):
    """One upsert's rows; timestamps span 1850-2022, so pre-1900
    values occur."""
    out = []
    for k in sorted(keys):
        ts = datetime.datetime(1850, 1, 1) + datetime.timedelta(
            days=k * 9000 + step, microseconds=k * 7 + 1
        )
        out.append((k, step, k * 10 + step, k / 3, ts, (ts, k * 100 + step),
                    "a" if k % 2 else "b"))
    n, f = ("long", "double") if wide else ("int", "float")
    return out, (
        f"user_id long, v long, {ncol} {n}, f {f}, ts timestamp, "
        "seq struct<ts:timestamp,id:long>, p string"
    )


_key = st.integers(0, 7)
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), st.sets(_key, min_size=1, max_size=4)),
        st.tuples(st.just("widen"), st.sets(_key, min_size=1, max_size=3)),
        st.tuples(st.just("delete"), st.sets(_key, min_size=1, max_size=3)),
        st.tuples(st.just("update"), _key),
        st.tuples(st.just("merge"), st.sets(_key, min_size=1, max_size=3)),
        st.tuples(st.just("rename"), st.none()),
        st.tuples(st.just("add_column"), st.none()),
    ),
    min_size=2,
    max_size=5,
)


@given(
    partitioned=st.booleans(),
    ops=_ops,
    probe=st.sets(st.integers(0, 9), min_size=1, max_size=5),
)
@_settings
def test_read_rows_matches_read_table(spark, tmp_path_factory, partitioned,
                                      ops, probe):
    root = str(tmp_path_factory.mktemp("rr") / "t")
    ncol, wide = "n", False

    def upsert(step, keys):
        rows, ddl = _rows(step, keys, wide, ncol)
        df = spark.createDataFrame(rows, ddl)
        if partitioned:
            upsert_manifest_partitioned(
                df, root, ["user_id"], "v", "p",
                allow_schema_evolution=True,
                stats_cols=["user_id"], bloom_cols=["user_id"],
            )
        else:
            upsert_manifest(df, root, ["user_id"], "v",
                            allow_schema_evolution=True)

    upsert(0, range(6))
    _assert_same(spark, root, "user_id", sorted(probe))
    for step, (op, arg) in enumerate(ops, start=1):
        if op == "widen":
            wide = True
            upsert(step, arg)
        elif op == "upsert":
            upsert(step, arg)
        elif op == "delete":
            delete_where(spark, root, [("user_id", "in", sorted(arg))],
                         mode="dv")
        elif op == "update":
            update_where(spark, root, [("user_id", "=", arg)],
                         {ncol: 77}, mode="dv")
        elif op == "merge":
            src = spark.createDataFrame(
                [(k, k * 1000) for k in sorted(arg)], "user_id long, val int"
            )
            merge_into(
                spark, root, src, ["user_id"], mode="dv",
                when_matched=[("s.user_id % 3 = 0", "delete"),
                              (None, {ncol: "s.val"})],
                when_not_matched=(None, {
                    "user_id": "s.user_id", ncol: "s.val", "v": "0",
                    "p": "CASE WHEN s.user_id % 2 = 1 THEN 'a' ELSE 'b' END",
                }),
            )
        elif op == "rename" and ncol == "n":
            rename_column(root, "n", "n_renamed")
            ncol = "n_renamed"
        elif op == "add_column":
            add_column(root, f"extra{step}", "string")
        _assert_same(spark, root, "user_id", sorted(probe))
    _assert_same(spark, root, "user_id", None)


def test_read_rows_values_equal_collect(spark, tmp_path):
    """Every value type the serving tables carry comes back exactly as
    ``collect()`` returns it: INT96 timestamps before 1677 (outside the
    nanosecond range), dates, decimals, binary, arrays,
    maps and nested structs."""
    root = str(tmp_path / "t")
    rows = [
        (1, datetime.datetime(1601, 2, 3, 4, 5, 6, 789012),
         datetime.date(1700, 1, 1), decimal.Decimal("12.34"),
         bytearray(b"\x00\x01"), [1, None, 3], {"a": 1.5},
         ((2, "x"), [datetime.datetime(2300, 1, 1)])),
        (2, None, None, None, None, None, None, None),
        (3, datetime.datetime(2024, 5, 6), datetime.date(2024, 5, 6),
         decimal.Decimal("-0.01"), bytearray(b""), [], {},
         ((None, None), None)),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, d date, dec decimal(10,2), b binary, "
        "xs array<int>, m map<string,double>, "
        "s struct<inner:struct<i:int,t:string>,tss:array<timestamp>>",
    )
    upsert_manifest(df, root, ["user_id"], "user_id")
    got = _assert_same(spark, root, "user_id", [1, 2, 3, 4])
    assert len(got) == 3
    assert isinstance(next(r for r in got if r.user_id == 1).b, bytes)
    _assert_same(spark, root, "user_id", None)


def test_read_rows_prunes_leaves_and_honours_the_byte_bound(spark, tmp_path):
    """A point read on a partitioned table lists only the leaves that
    may hold the key, and a read whose pruned files exceed
    ``max_bytes`` returns None without reading."""
    root = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("user_id"),
        (F.col("id") / 10).cast("long").alias("p"),
        F.lit(1).alias("v"),
    )
    upsert_manifest_partitioned(
        df, root, ["user_id"], "v", "p", stats_cols=["user_id"]
    )
    v = latest_version(root)
    got = _assert_same(spark, root, "user_id", [5])
    assert [r.user_id for r in got] == [5]
    assert read_rows(root, v, "user_id", [5], max_bytes=0) is None
    assert read_rows(root, v, "user_id", [], max_bytes=0) == []
    # the user_id stats leave only key 5's leaf (p=0): its bytes alone
    # fit the bound
    leaf = _leaves(root, v, read_manifest(root, v))["0"]
    size = sum(
        e.stat().st_size for e in os.scandir(os.path.join(root, leaf["dir"]))
        if not e.name.startswith((".", "_"))
    )
    assert read_rows(root, v, "user_id", [5], max_bytes=size) is not None
    assert read_rows(root, v, "user_id", None, max_bytes=size) is None


@pytest.mark.parametrize("keys", [[0], [99]])
def test_read_rows_empty_and_absent(spark, tmp_path, keys):
    root = str(tmp_path / "t")
    upsert_manifest(
        spark.createDataFrame([(0, 1)], "user_id long, v long"),
        root, ["user_id"], "v",
    )
    delete_where(spark, root, [("user_id", "=", 0)], mode="dv")
    assert _assert_same(spark, root, "user_id", keys) == []
