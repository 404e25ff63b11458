"""The one leaf writer (``txn._land``) and the one upsert body
(``txn._upsert``): every committing verb's Spark job budget, the
refusal of a write that lost rows, of a leaf holding another
partition's rows and of learnt leaves that do not pair one to one with
their values, learnt leaf keys against given ones, the typed partition
values compaction decodes from the manifest's keys, and when a lost
race stales an upsert's written leaves."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from feature_store_spark.pipelines import txn

DDL = "k bigint, v string, ts bigint, p string"
SEED = [(k, f"v{k}", 1, f"d{k % 3}") for k in range(12)]


def _table(spark, root, partitioned: bool):
    rows = spark.createDataFrame(SEED, DDL)
    if partitioned:
        txn.upsert_manifest_partitioned(rows, root, ["k"], "ts", "p")
    else:
        txn.upsert_manifest(rows, root, ["k"], "ts")
    return root


# Upper bounds on the Spark jobs one call runs, on ``_table``'s tables
# with the test session (8 shuffle partitions), as measured. None is
# above the count the verb ran before all verbs shared one leaf writer
# (in brackets where it was higher): a write's Observation now stands
# in for a read-back aggregate wherever no stats/Bloom column needs one,
# and a write whose leaf keys are not given learns them from its
# read-back instead of a distinct collect before it.
BUDGETS = {
    "flat.upsert": 2,
    "part.upsert.merge": 5,  # (7)
    "part.upsert.merge.stats_bloom": 7,
    "part.upsert.replace": 4,  # (7)
    "part.upsert.replace.stats_bloom": 4,  # (7)
    "flat.compact": 2,
    "flat.compact.min_files_noop": 0,
    "part.compact": 4,  # (7)
    "part.compact.min_files_noop": 0,
    "flat.repartition.to_part": 4,  # (8)
    "part.repartition.to_flat": 3,
    "flat.delete.rewrite": 3,  # (6)
    "flat.update.rewrite": 3,  # (6)
    "flat.merge.rewrite": 10,  # (13)
    "flat.delete.dv": 3,  # (4)
    "flat.update.dv": 5,  # (7)
    "flat.merge.dv": 10,  # (12)
    "part.delete.rewrite": 6,
    "part.update.rewrite": 6,
    "part.merge.rewrite": 13,
    "part.delete.dv": 4,
    "part.update.dv": 6,
    "part.merge.dv": 11,
}


def test_every_routed_verb_stays_in_its_job_budget(spark, tmp_path, job_budget):
    """Each verb that writes leaves runs at most its pinned number of
    Spark jobs per call, on both layouts."""
    up, upp = txn.upsert_manifest, txn.upsert_manifest_partitioned

    def frame(rows):
        return spark.createDataFrame(rows, DDL)

    got = {}

    def run(name, call):
        _, got[name] = job_budget(call)

    for layout in ("flat", "part"):
        root = _table(spark, str(tmp_path / layout), layout == "part")
        if layout == "flat":
            run("flat.upsert", lambda: up(
                frame([(1, "x", 2, "d1"), (40, "n", 2, "d1")]),
                root, ["k"], "ts"))
        else:
            # replace mode lands in fresh partitions, leaving the seed's
            # rows for the verbs below
            for mode, p1, p2 in (("merge", "d1", "d2"), ("replace", "d7", "d8")):
                run(f"part.upsert.{mode}", lambda: upp(
                    frame([(1, "x", 2, p1)]), root, ["k"], "ts", "p",
                    mode=mode))
                run(f"part.upsert.{mode}.stats_bloom", lambda: upp(
                    frame([(2, "y", 3, p2), (3, "z", 3, "d0")]), root,
                    ["k"], "ts", "p", mode=mode, stats_cols=["ts"],
                    bloom_cols=["k"]))
        run(f"{layout}.compact.min_files_noop",
            lambda: txn.compact_manifest(spark, root, min_files=100))
        run(f"{layout}.compact", lambda: txn.compact_manifest(spark, root))
        # each mode changes its own seed rows: k 4/5/6 and 7/8/9
        for mode, k in (("rewrite", 4), ("dv", 7)):
            run(f"{layout}.delete.{mode}", lambda: txn.delete_where(
                spark, root, [("k", "=", k)], mode=mode))
            run(f"{layout}.update.{mode}", lambda: txn.update_where(
                spark, root, [("k", "=", k + 1)], {"v": mode}, mode=mode))
            run(f"{layout}.merge.{mode}", lambda: txn.merge_into(
                spark, root,
                frame([(k + 2, mode, 9, f"d{(k + 2) % 3}"),
                       (60 + k, "i", 9, "d0")]),
                ["k", "p"], when_matched=[(None, {"v": "s.v"})],
                when_not_matched=(None, None), mode=mode))
        target = "part" if layout == "flat" else None
        run(f"{layout}.repartition.to_{target or 'flat'}",
            lambda: txn.repartition_table(spark, root, target and "p"))
    assert got.keys() == BUDGETS.keys()
    over = {k: (n, BUDGETS[k]) for k, n in got.items() if n > BUDGETS[k]}
    assert not over, f"(jobs, budget) over budget: {over}; all: {got}"


def _drop_key(monkeypatch, key: int):
    """Make the leaf writer lose the rows with ``k == key`` — a short
    write of the one leaf that holds them."""
    write = txn._write_leaves

    def short(root, phys, pcol, rows, written, *args, **kw):
        return write(
            root, phys, pcol, rows.filter(F.col("k") != key), written,
            *args, **kw,
        )

    monkeypatch.setattr(txn, "_write_leaves", short)


# (case, partitioned, key the writer drops, the call, what it raises).
# Compaction has no concurrent writer to blame and refuses at once; the
# DML and repartition verbs treat a count mismatch as a stale read and
# retry until they give up. A merge-mode upsert has no expected count,
# so only a leaf that vanished entirely can be caught; a replace-mode
# upsert learns its leaves from the write, and its read-back total must
# equal the rows its input saw.
NOT_COMMITTING = r"produced no leaf|disagree.*not committing"
GAVE_UP = r"gave up after 2 version races"
SHORT_WRITES = [
    ("flat.compact", False, 0,
     lambda s, r: txn.compact_manifest(s, r, max_retries=2), NOT_COMMITTING),
    ("part.compact", True, 0,
     lambda s, r: txn.compact_manifest(s, r, max_retries=2), NOT_COMMITTING),
    ("flat.repartition", False, 0,
     lambda s, r: txn.repartition_table(s, r, "p", max_retries=2), GAVE_UP),
    ("part.repartition", True, 0,
     lambda s, r: txn.repartition_table(s, r, None, max_retries=2), GAVE_UP),
    ("flat.delete.rewrite", False, 0,
     lambda s, r: txn.delete_where(s, r, [("k", "=", 3)], max_retries=2),
     GAVE_UP),
    ("part.delete.rewrite", True, 0,
     lambda s, r: txn.delete_where(s, r, [("k", "=", 3)], max_retries=2),
     GAVE_UP),
    ("flat.update.rewrite", False, 4,
     lambda s, r: txn.update_where(
         s, r, [("k", "=", 1)], {"v": "u"}, max_retries=2), GAVE_UP),
    ("part.update.rewrite", True, 4,
     lambda s, r: txn.update_where(
         s, r, [("k", "=", 1)], {"v": "u"}, max_retries=2), GAVE_UP),
    ("flat.update.dv", False, 1,
     lambda s, r: txn.update_where(
         s, r, [("k", "in", [1, 4])], {"v": "u"}, max_retries=2, mode="dv"),
     GAVE_UP),
    ("part.update.dv", True, 1,
     lambda s, r: txn.update_where(
         s, r, [("k", "in", [1, 4])], {"v": "u"}, max_retries=2, mode="dv"),
     GAVE_UP),
    ("flat.merge.rewrite", False, 2,
     lambda s, r: _merge(s, r, "rewrite"), GAVE_UP),
    ("part.merge.rewrite", True, 2,
     lambda s, r: _merge(s, r, "rewrite"), GAVE_UP),
    ("flat.merge.dv", False, 2, lambda s, r: _merge(s, r, "dv"), GAVE_UP),
    ("part.merge.dv", True, 2, lambda s, r: _merge(s, r, "dv"), GAVE_UP),
    ("part.upsert", True, 100,
     lambda s, r: txn.upsert_manifest_partitioned(
         s.createDataFrame([(1, "x", 2, "d1"), (100, "y", 2, "d9")], DDL),
         r, ["k"], "ts", "p", max_retries=2),
     r"\['d9'\] produced no leaf"),
    ("part.upsert.replace", True, 100,
     lambda s, r: txn.upsert_manifest_partitioned(
         s.createDataFrame([(1, "x", 2, "d1"), (100, "y", 2, "d9")], DDL),
         r, ["k"], "ts", "p", max_retries=2, mode="replace"),
     r"read 2, wrote 1.*not committing"),
]


def _merge(spark, root, mode):
    return txn.merge_into(
        spark, root,
        spark.createDataFrame([(2, "m", 9, "d2"), (50, "i", 9, "d2")], DDL),
        ["k", "p"], when_matched=[(None, {"v": "s.v"})],
        when_not_matched=(None, None), max_retries=2, mode=mode,
    )


@pytest.mark.parametrize(
    "case,partitioned,key,call,raises", SHORT_WRITES,
    ids=[c[0] for c in SHORT_WRITES],
)
def test_short_write_is_refused(
    spark, tmp_path, monkeypatch, case, partitioned, key, call, raises
):
    """A leaf write that lost rows never lands: the verb raises (or
    retries until it gives up), no version is published and no data
    dir is left behind."""
    root = _table(spark, str(tmp_path / "t"), partitioned)
    version = txn.latest_version(root)
    dirs = set(os.listdir(os.path.join(root, txn.DATA_DIR)))
    _drop_key(monkeypatch, key)
    with pytest.raises(RuntimeError, match=raises):
        call(spark, root)
    assert txn.latest_version(root) == version
    assert set(os.listdir(os.path.join(root, txn.DATA_DIR))) == dirs


# leaf tokens that break the pairing of learnt leaf dirs and partition
# values: every value in one dir, or one value spread over two dirs
BAD_TOKENS = {
    "two_values_one_dir": lambda field: F.lit("0" * 16),
    "one_value_two_dirs": lambda field: F.sha1(F.col("k").cast("string")),
}


@pytest.mark.parametrize("token", BAD_TOKENS.values(), ids=BAD_TOKENS.keys())
def test_learnt_leaves_must_match_their_values_one_to_one(
    spark, tmp_path, monkeypatch, token
):
    """A write whose learnt leaf dirs and partition values do not pair
    one to one is refused: no version lands and no data dir is left
    behind."""
    root = _table(spark, str(tmp_path / "t"), True)
    version = txn.latest_version(root)
    dirs = set(os.listdir(os.path.join(root, txn.DATA_DIR)))
    monkeypatch.setattr(txn, "_ptok_expr", token)
    with pytest.raises(RuntimeError, match="do not match one to one"):
        txn.upsert_manifest_partitioned(
            spark.createDataFrame(
                [(1, "x", 2, "d1"), (2, "y", 2, "d1"), (3, "z", 2, "d2")], DDL
            ),
            root, ["k"], "ts", "p", mode="replace",
        )
    assert txn.latest_version(root) == version
    assert set(os.listdir(os.path.join(root, txn.DATA_DIR))) == dirs


class _LoseFirstPut(txn.LocalLinkBackend):
    """Runs a competing commit between an upsert's write and its
    conditional put, and loses that put: a deterministic version
    race."""

    def __init__(self, compete):
        self.compete, self.puts = compete, 0

    def put_if_absent(self, target, payload):
        self.puts += 1
        if self.puts == 1:
            self.compete()
            return False
        return super().put_if_absent(target, payload)


def _upsert(spark, root, partitioned, rows, backend):
    frame = spark.createDataFrame(rows, DDL)
    if partitioned:
        return txn.upsert_manifest_partitioned(
            frame, root, ["k"], "ts", "p", backend=backend
        )
    return txn.upsert_manifest(frame, root, ["k"], "ts", backend=backend)


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "part"])
def test_upsert_race_loser_keeps_the_winners_dv_delete(
    spark, tmp_path, partitioned
):
    """A race winner that deletes a row of the loser's touched leaf
    through a deletion vector leaves that leaf's dir as it was; the
    loser must still re-merge, or republishing its written leaf would
    bring the deleted row back."""
    root = _table(spark, str(tmp_path / "t"), partitioned)
    _upsert(spark, root, partitioned, [(1, "x", 2, "d1")], _LoseFirstPut(
        lambda: txn.delete_where(spark, root, [("k", "=", 4)], mode="dv")
    ))
    got = {r["k"]: r["v"] for r in txn.read_table(spark, root)[0].collect()}
    assert 4 not in got and got[1] == "x" and len(got) == 11


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "part"])
def test_upsert_race_loser_obeys_the_winners_new_constraint(
    spark, tmp_path, partitioned
):
    """A race winner that adds a CHECK constraint stales the loser's
    written leaf, which was never checked against it: the loser
    re-merges, and its violating row aborts the commit."""
    root = _table(spark, str(tmp_path / "t"), partitioned)
    version = txn.latest_version(root)
    with pytest.raises(ValueError, match="CHECK constraint"):
        _upsert(spark, root, partitioned, [(1, None, 2, "d1")], _LoseFirstPut(
            lambda: txn.add_constraint(spark, root, "v_set", "v IS NOT NULL")
        ))
    assert txn.latest_version(root) == version + 1  # the constraint only


# (type, value) of every partition column type the tests use, NaN,
# infinities and timestamps with microseconds included
_PARTITION_VALUES = st.one_of(
    st.tuples(st.just(StringType()), st.text()),
    st.tuples(st.just(IntegerType()), st.integers(-(2**31), 2**31 - 1)),
    st.tuples(st.just(LongType()), st.integers(-(2**63), 2**63 - 1)),
    st.tuples(st.just(BooleanType()), st.booleans()),
    st.tuples(st.just(DoubleType()), st.floats()),
    st.tuples(st.just(DecimalType(12, 2)), st.decimals(
        min_value=-(10**9), max_value=10**9, places=2,
        allow_nan=False, allow_infinity=False)),
    st.tuples(st.just(DateType()), st.dates()),
    st.tuples(st.just(TimestampType()), st.datetimes()),
)


@given(_PARTITION_VALUES)
def test_partition_keys_decode_to_their_values(type_and_value):
    """Compaction rebuilds each leaf's typed partition value from its
    manifest key: ``_stat_decode`` inverts ``_pkey``."""
    dtype, v = type_and_value
    got = txn._stat_decode(txn._pkey(v), dtype)
    assert type(got) is type(v)
    assert got == v or (v != v and got != got)  # NaN is not equal to NaN


FOREIGN_ROWS = [
    # a partition the compaction does not rewrite: the row drops at the
    # leaf join and the written count falls short
    ("d9", None, "disagree.*not committing"),
    ("d2", ["d1"], "disagree.*not committing"),
    # another rewritten partition: the row would move into d2's new
    # leaf under the old counts (d1 4 / d2 4 recorded, 3 / 5 held)
    ("d2", None, "1 rows key a leaf other than the one they were read "
     "from.*not committing"),
]


@pytest.mark.parametrize(
    "foreign,selected,raises", FOREIGN_ROWS,
    ids=["unknown_partition", "unselected_partition", "selected_partition"],
)
def test_compaction_refuses_a_leaf_holding_foreign_rows(
    spark, tmp_path, foreign, selected, raises
):
    """A leaf whose files hold a row of another partition is refused,
    whether or not the compaction rewrites that partition too: no
    version lands and no data dir is left behind."""
    root = _table(spark, str(tmp_path / "t"), True)
    version = txn.latest_version(root)
    dirs = set(os.listdir(os.path.join(root, txn.DATA_DIR)))
    leaf = os.path.join(
        root, txn.resolve_partitions(root, version)["d1"]["dir"]
    )
    rows = spark.read.parquet(leaf).collect()
    doctored = str(tmp_path / "doctored")
    spark.createDataFrame(
        [(r.k, r.v, r.ts, foreign if i == 0 else r.p)
         for i, r in enumerate(rows)],
        DDL,
    ).coalesce(1).write.parquet(doctored)
    shutil.rmtree(leaf)
    shutil.move(doctored, leaf)
    with pytest.raises(RuntimeError, match=raises):
        txn.compact_manifest(
            spark, root, partition_values=selected, max_retries=2
        )
    assert txn.latest_version(root) == version
    assert set(os.listdir(os.path.join(root, txn.DATA_DIR))) == dirs


# (type, values) of a partition column: each frame draws its partition
# values from the pool, so leaves hold several rows and values repeat
_FLOATS = [0.0, -0.0, float("nan"), float("inf"), float("-inf"), 1.5]
_POOLS = st.one_of(
    st.tuples(st.just(StringType()), st.lists(
        st.text(st.characters(blacklist_categories=("Cs",)), max_size=4),
        min_size=1, max_size=4)),
    st.tuples(st.just(IntegerType()), st.lists(
        st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=4)),
    st.tuples(st.just(LongType()), st.lists(
        st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=4)),
    st.tuples(st.just(BooleanType()), st.lists(
        st.booleans(), min_size=1, max_size=2)),
    st.tuples(st.just(DateType()), st.lists(
        st.dates(datetime.date(1900, 1, 1), datetime.date(2200, 1, 1)),
        min_size=1, max_size=4)),
    st.tuples(st.just(TimestampType()), st.lists(
        st.datetimes(datetime.datetime(1900, 1, 1),
                     datetime.datetime(2200, 1, 1)),
        min_size=1, max_size=4)),
    st.tuples(st.just(DecimalType(12, 2)), st.lists(st.decimals(
        min_value=-(10**9), max_value=10**9, places=2,
        allow_nan=False, allow_infinity=False), min_size=1, max_size=4)),
    st.tuples(st.just(DoubleType()), st.lists(
        st.sampled_from(_FLOATS) | st.floats(), min_size=1, max_size=4)),
)


@settings(max_examples=16, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_POOLS, st.lists(st.integers(0, 99), min_size=1, max_size=12),
       st.randoms(use_true_random=False))
def test_learnt_keys_land_as_given_keys(spark, pool, ks, rnd):
    """A write whose leaf keys are learnt from its read-back lands the
    same leaves as the same write given its keys by a distinct collect
    first: the same keys, per-leaf row counts, stats and Bloom bits,
    and the same rows in each leaf."""
    dtype, values = pool
    schema = StructType([
        StructField("k", LongType()), StructField("p", dtype)
    ])
    rows = spark.createDataFrame(
        [(k, rnd.choice(values)) for k in ks], schema
    )
    fields = [schema["k"]]

    def land(root, keys):
        entries = txn._land(
            root, "test", {}, rows, "p", [], keys=keys, stats=fields,
            bloom=fields,
        )
        got = {}
        for pk, e in entries.items():
            leaf = txn._read_entries(spark, schema, {}, root, [e])
            got[pk] = (
                {k: x for k, x in e.items() if k != "dir"},
                sorted(r["k"] for r in leaf.collect()),
            )
        return got

    with tempfile.TemporaryDirectory() as root:
        learnt = land(root, None)
        given_ = land(root, txn._partition_keys(rows, "p", "test"))
    assert learnt == given_
    assert sum(e["rows"] for e, _ in learnt.values()) == len(ks)
