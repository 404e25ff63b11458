"""The change feed (``txn.table_changes`` and the streaming source
``txn.read_changes_stream`` over it) against ``snapshot_diff`` of the
two ``read_table`` snapshots: over random op sequences on flat and
partitioned tables, and across added columns."""
from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from feature_store_spark.operators.diff import snapshot_diff
from feature_store_spark.pipelines import txn

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)


def _multiset(df):
    return sorted(repr(r) for r in df.collect())


def _oracle(spark, root, a, b, keys):
    """snapshot_diff of the full snapshots at ``a`` and ``b`` (version 0
    the empty table), the older one aligned to the newer's names and
    null-filled, without its ``unchanged`` rows."""
    new, _ = txn.read_table(spark, root, b)
    m_new = txn.read_manifest(root, b)
    if a:
        old, _ = txn.read_table(spark, root, a)
        old = txn._align_logical(old, txn.read_manifest(root, a), m_new)
    else:
        old = new.limit(0)
    cmp = [c for c in new.columns if c not in keys]
    old = old.withColumns({
        f.name: F.lit(None).cast(f.dataType)
        for f in new.schema.fields
        if f.name in cmp and f.name not in old.columns
    })
    return snapshot_diff(old, new, keys, cmp, include_values=True).filter(
        F.col("status") != "unchanged"
    )


def _assert_feed(spark, root, keys=("user_id",)):
    """Every (k-1, k) and (0, k) pair of the table's versions."""
    keys = list(keys)
    for k in range(1, txn.latest_version(root) + 1):
        for a in {k - 1, 0}:
            got = txn.table_changes(spark, root, a, k, keys)
            want = _oracle(spark, root, a, k, keys)
            assert _multiset(got) == _multiset(want), (
                a, k, txn.read_manifest(root, k).get("op"),
            )


def _p(k: int) -> str:
    """Each key's fixed partition, so a key is one row per version."""
    return "abc"[k % 3]


_P_SQL = (
    "CASE s.user_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END"
)
_key = st.integers(0, 8)
_keys = st.sets(_key, min_size=1, max_size=4)
_mode = st.sampled_from(["rewrite", "dv"])
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("upsert"), _keys),
        st.tuples(st.just("evolve"), _keys),
        st.tuples(st.just("delete"), st.tuples(_keys, _mode)),
        st.tuples(st.just("update"), st.tuples(_key, _mode)),
        st.tuples(st.just("merge"), st.tuples(_keys, _mode)),
        st.tuples(st.just("compact"), st.none()),
        st.tuples(st.just("purge"), st.none()),
        st.tuples(st.just("rename"), st.none()),
        st.tuples(st.just("add_column"), st.none()),
        st.tuples(st.just("drop_z"), st.none()),
        st.tuples(st.just("drop_partitions"), st.sampled_from("abc")),
        st.tuples(st.just("restore"), st.integers(0, 20)),
        st.tuples(st.just("repartition"), st.none()),
    ),
    min_size=2,
    max_size=6,
)


@given(partitioned=st.booleans(), ops=_ops)
@_settings
def test_table_changes_matches_snapshot_diff(spark, tmp_path_factory,
                                             partitioned, ops):
    """``table_changes`` reads only the leaves whose (dir, dv,
    extra_dirs) triple changed, yet equals the full diff of the two
    snapshots minus its unchanged rows: over upserts (with schema
    evolution), DELETE/UPDATE/MERGE in both modes, compaction, purge,
    rename/add/drop column, drop_partitions, restore and
    repartition_table in both directions."""
    root = str(tmp_path_factory.mktemp("cdc") / "t")

    def tip():
        return txn.read_manifest(root, txn.latest_version(root))

    def names():
        if not txn.latest_version(root):
            return []
        return [f["name"] for f in tip()["schema"]["fields"]]

    def ncol():
        return "n2" if "n2" in names() else "n"

    # a dropped column's name is retired, so each evolution after a
    # drop_z adds a fresh one
    z = ["z"]

    def upsert(step, keys, evolve=False):
        df = spark.createDataFrame(
            [(k, step, k * 10 + step, _p(k)) for k in sorted(keys)],
            f"user_id long, v long, {ncol()} long, p string",
        )
        if evolve:
            df = df.withColumn(z[0], F.col("v") + 100)
        pcol = txn._pcol(tip()) if names() else (
            "p" if partitioned else None
        )
        if pcol:
            txn.upsert_manifest_partitioned(
                df, root, ["user_id"], "v", pcol,
                allow_schema_evolution=True,
            )
        else:
            txn.upsert_manifest(
                df, root, ["user_id"], "v", allow_schema_evolution=True
            )

    upsert(0, range(6))
    for step, (op, arg) in enumerate(ops, start=1):
        if op in ("upsert", "evolve"):
            upsert(step, arg, evolve=op == "evolve")
        elif op == "delete":
            keys, mode = arg
            txn.delete_where(
                spark, root, [("user_id", "in", sorted(keys))], mode=mode
            )
        elif op == "update":
            k, mode = arg
            txn.update_where(
                spark, root, [("user_id", "=", k)], {ncol(): 77}, mode=mode
            )
        elif op == "merge":
            keys, mode = arg
            src = spark.createDataFrame(
                [(k, k * 1000) for k in sorted(keys)], "user_id long, val long"
            )
            txn.merge_into(
                spark, root, src, ["user_id"], mode=mode,
                when_matched=[("s.user_id % 4 = 0", "delete"),
                              (None, {ncol(): "s.val"})],
                when_not_matched=(None, {
                    "user_id": "s.user_id", ncol(): "s.val",
                    "v": str(step), "p": _P_SQL,
                }),
            )
        elif op == "compact":
            txn.compact_manifest(spark, root)
        elif op == "purge":
            txn.purge_deletes(spark, root)
        elif op == "rename" and ncol() == "n":
            txn.rename_column(root, "n", "n2")
        elif op == "add_column":
            txn.add_column(root, f"extra{step}", "string")
        elif op == "drop_z" and z[0] in names():
            txn.drop_column(root, z[0])
            z[0] += "z"
        elif op == "drop_partitions" and txn._pcol(tip()):
            txn.drop_partitions(root, [arg])
        elif op == "restore":
            v = txn.latest_version(root)
            if v > 1:
                txn.restore(root, version=1 + arg % (v - 1))
        elif op == "repartition":
            txn.repartition_table(
                spark, root, None if txn._pcol(tip()) else "p"
            )
    _assert_feed(spark, root)


def test_changes_across_added_columns(spark, tmp_path):
    """A column one endpoint lacks reads as NULL there, typed from the
    newer schema — across ``add_column`` and across an upsert under
    ``allow_schema_evolution`` — and a change stream drains through
    both commits."""
    root = str(tmp_path / "t")
    ddl = "user_id long, score double, ts long"
    txn.upsert_manifest(
        spark.createDataFrame([(1, 1.0, 1), (2, 2.0, 1)], ddl),
        root, ["user_id"], "ts",
    )                                                        # v1
    txn.add_column(root, "tier", "string")                   # v2
    txn.upsert_manifest(
        spark.createDataFrame([(2, 2.0, 2, 7)], ddl + ", bonus long"),
        root, ["user_id"], "ts", allow_schema_evolution=True,
    )                                                        # v3
    assert txn.table_changes(spark, root, 1, 2, ["user_id"]).collect() == []
    for a in (1, 2):
        (r,) = txn.table_changes(spark, root, a, 3, ["user_id"]).collect()
        assert (r["user_id"], r["status"], r["changed_cols"]) == (
            2, "changed", "bonus,ts"
        )
        assert (r["bonus_old"], r["bonus_new"], r["tier_new"]) == (
            None, 7, None
        )
    _assert_feed(spark, root)

    batches = []
    res = txn.read_changes_stream(
        spark, root, str(tmp_path / "ck"),
        lambda df, v: batches.append((v, df.collect())), ["user_id"],
    )
    assert res == {"batches": 3, "from_version": 0, "to_version": 3}
    assert [(v, len(rows)) for v, rows in batches] == [(1, 2), (2, 0), (3, 1)]
    (r,) = batches[2][1]
    assert (r["user_id"], r["_commit_version"], r["bonus_new"]) == (2, 3, 7)


def test_changes_across_a_restore_past_drop_column(spark, tmp_path):
    """A restore past a ``drop_column`` brings the dropped column's
    bytes back in leaves both versions share: the feed reads every
    leaf and reports the column's values as changes."""
    root = str(tmp_path / "t")
    txn.upsert_manifest(
        spark.createDataFrame(
            [(1, 1.0, 1), (2, None, 1)], "user_id long, score double, ts long"
        ),
        root, ["user_id"], "ts",
    )                                                        # v1
    txn.drop_column(root, "score")                           # v2
    txn.restore(root, version=1)                             # v3
    assert txn.table_changes(spark, root, 1, 2, ["user_id"]).collect() == []
    got = [
        (r["user_id"], r["status"], r["changed_cols"], r["score_new"])
        for r in txn.table_changes(spark, root, 2, 3, ["user_id"]).collect()
    ]
    assert got == [(1, "changed", "score", 1.0)]
    _assert_feed(spark, root)
