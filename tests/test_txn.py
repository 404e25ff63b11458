"""Manifest-commit transactional upsert (pipelines/txn.py): the
multi-writer and crash-safety contracts a plain parquet overwrite
cannot give (reference parity: atomic INSERT … ON CONFLICT,
`src/pipelines/batch_pipeline.py:221-310`)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from feature_store_spark.pipelines.txn import (
    _try_commit,
    latest_version,
    read_table,
    upsert_manifest,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, v string, ts bigint")


def _snap(spark, root):
    df, _ = read_table(spark, root)
    return {r["user_id"]: (r["v"], r["ts"]) for r in df.collect()}


def test_upsert_manifest_semantics(spark, tmp_path):
    root = str(tmp_path / "t")
    n = upsert_manifest(
        _df(spark, [(1, "a", 10), (2, "b", 10)]), root, ["user_id"], "ts"
    )
    assert n == 2 and latest_version(root) == 1
    # newer ts wins; tie goes to the update; stale ts loses
    upsert_manifest(
        _df(spark, [(1, "a2", 11), (2, "b2", 10), (3, "c", 5)]),
        root,
        ["user_id"],
        "ts",
    )
    assert _snap(spark, root) == {
        1: ("a2", 11),
        2: ("b2", 10),
        3: ("c", 5),
    }
    upsert_manifest(_df(spark, [(1, "stale", 9)]), root, ["user_id"], "ts")
    assert _snap(spark, root)[1] == ("a2", 11)
    assert latest_version(root) == 3


def test_version_race_loser_remerges_not_clobbers(spark, tmp_path):
    """Deterministic interleave: writer B's commit is built against a
    snapshot that writer A supersedes mid-flight. B's stale publish
    MUST fail (O_EXCL), and B's public-API retry must land ON TOP of
    A's commit — both writers' keys survive."""
    root = str(tmp_path / "t")
    upsert_manifest(_df(spark, [(1, "base", 1)]), root, ["user_id"], "ts")

    # B prepares a stale commit against v1 (simulating the read side)
    b_merged = _df(spark, [(1, "base", 1), (2, "from_b", 2)])
    b_dir = "data/stale_b"
    b_merged.write.parquet(os.path.join(root, b_dir))

    # A commits v2 first
    upsert_manifest(_df(spark, [(3, "from_a", 2)]), root, ["user_id"], "ts")
    assert latest_version(root) == 2

    # B's stale publish of v2 must lose the race...
    assert not _try_commit(
        root,
        2,
        {
            "base_version": 1,
            "data_dir": b_dir,
            "rows": 2,
            "schema": b_merged.schema.jsonValue(),
        },
    )
    # ...and the real API retry merges against A's tip: nothing lost
    upsert_manifest(_df(spark, [(2, "from_b", 2)]), root, ["user_id"], "ts")
    assert _snap(spark, root) == {
        1: ("base", 1),
        2: ("from_b", 2),
        3: ("from_a", 2),
    }


def test_concurrent_writers_lose_no_update(spark, tmp_path):
    """Two live threads interleaving upserts over disjoint keys: every
    key from both writers must be present at the end — the exact
    failure mode read-modify-overwrite cannot exclude."""
    root = str(tmp_path / "t")
    errors = []

    def writer(offset):
        try:
            for i in range(4):
                upsert_manifest(
                    _df(spark, [(offset + i, f"w{offset}", i)]),
                    root,
                    ["user_id"],
                    "ts",
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start()
    t2.start()
    t1.join()
    t2.join()
    assert not errors
    got = _snap(spark, root)
    assert set(got) == {100, 101, 102, 103, 200, 201, 202, 203}
    assert latest_version(root) == 8  # every commit landed


def test_crash_mid_write_keeps_old_snapshot(spark, tmp_path):
    """Data written but manifest never published (crash between the
    two steps): readers keep seeing the committed snapshot."""
    root = str(tmp_path / "t")
    upsert_manifest(_df(spark, [(1, "a", 1)]), root, ["user_id"], "ts")
    # simulated crash: orphan data directory, no manifest
    _df(spark, [(1, "torn", 9), (9, "torn", 9)]).write.parquet(
        os.path.join(root, "data/orphan_crashed")
    )
    assert latest_version(root) == 1
    assert _snap(spark, root) == {1: ("a", 1)}


def test_upsert_manifest_schema_evolution(spark, tmp_path):
    """mergeSchema analogue: a new column lands with NULLs on old
    rows, a dropped column survives with NULLs on new rows, and prior
    versions still time-travel under their own schema; without the
    flag a schema change fails loudly."""
    from feature_store_spark.pipelines.txn import read_table

    root = str(tmp_path / "t")
    upsert_manifest(_df(spark, [(1, "a", 1)]), root, ["user_id"], "ts")
    widened = spark.createDataFrame(
        [(2, "b", 2, 0.5)], "user_id bigint, v string, ts bigint, score double"
    )
    with pytest.raises(Exception):
        upsert_manifest(widened, root, ["user_id"], "ts")
    n = upsert_manifest(
        widened, root, ["user_id"], "ts", allow_schema_evolution=True
    )
    assert n == 2
    cur, _ = read_table(spark, root)
    got = {r["user_id"]: r for r in cur.collect()}
    assert got[1]["score"] is None and got[2]["score"] == 0.5
    old, _ = read_table(spark, root, version=1)
    assert "score" not in old.columns  # time travel keeps old schema


def test_daily_pipeline_transactional_matches_parquet(spark, sf_dir, tmp_path):
    """run_daily_pipeline lands each feature store as one atomic
    manifest commit holding exactly the day's derived frames, and the
    warehouse as one partition-scoped commit holding their serving
    join; ``transactional=False`` is refused."""
    from feature_store_spark.pipelines.drivers import run_daily_pipeline
    from feature_store_spark.pipelines.features import (
        derive_risk_features,
        derive_transaction_features,
        derive_user_features,
    )
    from feature_store_spark.pipelines.txn import latest_version, read_table
    from feature_store_spark.tables import REF_DATE, load_table

    out = str(tmp_path / "tx")
    res = run_daily_pipeline(spark, sf_dir, out)
    assert res.status == "SUCCESS"
    customer, orders, lineitem, events = (
        load_table(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "events")
    )
    stamp = F.to_timestamp(F.lit(f"{REF_DATE} 00:00:00"))
    want = {
        "user_features": derive_user_features(customer, orders),
        "transaction_features": derive_transaction_features(
            orders, lineitem
        ),
        "risk_features": derive_risk_features(
            customer, orders, lineitem, events
        ),
    }
    want = {k: df.withColumn("updated_at", stamp) for k, df in want.items()}
    for kind, frame in want.items():
        got, v = read_table(spark, f"{out}/{kind}")
        assert v == 1, kind
        assert got.columns == frame.columns, kind
        rows = sorted(map(tuple, frame.collect()))
        assert sorted(map(tuple, got.collect())) == rows, kind
        assert res.counts[kind] == len(rows), kind
    # the warehouse history lands through the PARTITION-SCOPED commit
    # and carries the serving join of the same frames, dated ref_date
    wh = f"{out}/warehouse/serving_features"
    serving = (
        want["user_features"]
        .join(want["transaction_features"].drop("updated_at"), "user_id", "left")
        .join(want["risk_features"].drop("updated_at"), "user_id", "left")
        .withColumn("partition_date", F.to_date("updated_at"))
    )
    got_wh, _ = read_table(spark, wh)
    cols = sorted(serving.columns)
    assert sorted(got_wh.columns) == cols
    assert sorted(
        map(tuple, got_wh.select(*cols).collect())
    ) == sorted(map(tuple, serving.select(*cols).collect()))
    assert latest_version(wh) == 1
    with pytest.raises(ValueError, match="migrate_to_manifest"):
        run_daily_pipeline(spark, sf_dir, out, transactional=False)
    assert latest_version(wh) == 1


def test_table_changes_between_versions(spark, tmp_path):
    """CDC read off the manifest history: the diff of two pinned
    versions reports the added and changed rows (an unchanged row is
    not a change) and refuses reversed or unreadable ranges."""
    from feature_store_spark.pipelines.txn import table_changes

    root = str(tmp_path / "t")
    upsert_manifest(
        _df(spark, [(1, "a", 1), (2, "b", 1)]), root, ["user_id"], "ts"
    )
    upsert_manifest(
        _df(spark, [(2, "b2", 2), (3, "c", 2)]), root, ["user_id"], "ts"
    )
    got = {
        r["user_id"]: (r["status"], r["changed_cols"])
        for r in table_changes(spark, root, 1, 2).collect()
    }
    assert got == {
        2: ("changed", "ts,v"),
        3: ("added", None),
    }
    with pytest.raises(ValueError, match="must precede"):
        table_changes(spark, root, 2, 1)
    with pytest.raises(ValueError, match="not readable"):
        table_changes(spark, str(tmp_path / "empty"), 1, 2)


def test_vacuum_survives_grown_keep_window_and_empty_table(spark, tmp_path):
    """Review regressions: (a) vacuum(keep_last=3) after an earlier
    vacuum(keep_last=1) pruned most history must not crash reading
    already-pruned manifests; (b) orphan reclamation must work on a
    table with ZERO commits (a writer that crashed before its first
    publish)."""
    import os

    from feature_store_spark.pipelines.txn import vacuum

    root = str(tmp_path / "t")
    for i in range(5):
        upsert_manifest(
            _df(spark, [(1, f"v{i}", i)]), root, ["user_id"], "ts"
        )
    vacuum(root, keep_last=1)
    assert vacuum(root, keep_last=3) == []  # no crash, nothing to do
    assert _snap(spark, root) == {1: ("v4", 4)}

    empty_root = str(tmp_path / "never_committed")
    orphan = os.path.join(empty_root, "data/orphan")
    _df(spark, [(9, "torn", 9)]).write.parquet(orphan)
    os.utime(orphan, (os.path.getmtime(orphan) - 10_000,) * 2)
    assert vacuum(empty_root, keep_last=1, orphan_grace_seconds=3600) == [
        "data/orphan"
    ]
    assert not os.path.isdir(orphan)


def test_vacuum_reclaims_aged_orphans_behind_grace(spark, tmp_path):
    """A crash-orphaned data dir (written, never published) is left
    alone by default and by a zero-aged grace miss, and reclaimed once
    older than the grace window; referenced dirs are never touched."""
    import os

    from feature_store_spark.pipelines.txn import vacuum

    root = str(tmp_path / "t")
    upsert_manifest(_df(spark, [(1, "a", 1)]), root, ["user_id"], "ts")
    orphan = os.path.join(root, "data/orphan_crashed")
    _df(spark, [(9, "torn", 9)]).write.parquet(orphan)
    # default: orphans untouched
    assert vacuum(root, keep_last=1) == []
    assert os.path.isdir(orphan)
    # inside the grace window: still untouched
    assert vacuum(root, keep_last=1, orphan_grace_seconds=3600) == []
    assert os.path.isdir(orphan)
    # aged past the grace window: reclaimed; live data untouched
    old = 10_000
    os.utime(orphan, (os.path.getmtime(orphan) - old,) * 2)
    removed = vacuum(root, keep_last=1, orphan_grace_seconds=3600)
    assert removed == ["data/orphan_crashed"]
    assert not os.path.isdir(orphan)
    assert _snap(spark, root) == {1: ("a", 1)}


class FlakyBackend:
    """Object-store simulator: the first ``fail_puts`` conditional
    puts are lost (returns False without creating the object — an S3
    412/transient-retry shape), then delegates to the real local
    backend. Counts attempts so tests can pin the retry budget."""

    def __init__(self, fail_puts):
        from feature_store_spark.pipelines.txn import LocalLinkBackend

        self.fail_puts = fail_puts
        self.attempts = 0
        self._real = LocalLinkBackend()

    def put_if_absent(self, target, payload):
        self.attempts += 1
        if self.attempts <= self.fail_puts:
            return False
        return self._real.put_if_absent(target, payload)


def test_commit_survives_lossy_conditional_put(spark, tmp_path):
    """The optimistic loop against a simulated object store whose
    conditional put fails 3 times: the upsert still lands exactly one
    committed version with the right rows, and a backend that never
    succeeds exhausts the retry budget loudly."""
    root = str(tmp_path / "t")
    flaky = FlakyBackend(fail_puts=3)
    n = upsert_manifest(
        _df(spark, [(1, "a", 1)]), root, ["user_id"], "ts", backend=flaky
    )
    assert n == 1 and flaky.attempts == 4
    assert latest_version(root) == 1
    assert _snap(spark, root) == {1: ("a", 1)}
    # a second upsert through a fresh flaky backend merges correctly
    upsert_manifest(
        _df(spark, [(2, "b", 2)]),
        root,
        ["user_id"],
        "ts",
        backend=FlakyBackend(fail_puts=2),
    )
    assert _snap(spark, root) == {1: ("a", 1), 2: ("b", 2)}
    assert latest_version(root) == 2

    dead = FlakyBackend(fail_puts=10**9)
    with pytest.raises(RuntimeError, match="gave up"):
        upsert_manifest(
            _df(spark, [(3, "c", 3)]),
            root,
            ["user_id"],
            "ts",
            max_retries=3,
            backend=dead,
        )
    assert dead.attempts == 3
    assert latest_version(root) == 2  # nothing half-published


def _lost_race_cases():
    """verb id -> (partitioned, prepare, call, expected rows). Every
    case starts from v1 {1: a/p1, 2: b/p2} + v2 {3: c/p1}."""
    from feature_store_spark.pipelines import txn

    def src(spark, rows):
        return spark.createDataFrame(rows, "user_id bigint, v string")

    def merge(mode):
        return lambda spark, root, **kw: txn.merge_into(
            spark, root, src(spark, [(3, "m")]), ["user_id"],
            when_matched=[(None, {"v": "s.v"})], mode=mode, **kw,
        )

    def delete(mode):
        return lambda spark, root, **kw: txn.delete_where(
            spark, root, [("user_id", "=", 1)], mode=mode, **kw
        )

    def update(mode):
        return lambda spark, root, **kw: txn.update_where(
            spark, root, [("user_id", "=", 2)], {"v": "z"}, mode=mode, **kw
        )

    base = {1: "a", 2: "b", 3: "c"}
    new_row = [(4, "d", 3, "p2")]
    cases = {
        "upsert_manifest": (
            False, None,
            lambda spark, root, **kw: txn.upsert_manifest(
                _pdf(spark, new_row), root, ["user_id"], "ts", **kw
            ),
            {**base, 4: "d"},
        ),
        "upsert_manifest_partitioned": (
            True, None,
            lambda spark, root, **kw: txn.upsert_manifest_partitioned(
                _pdf(spark, new_row), root, ["user_id"], "ts", "p", **kw
            ),
            {**base, 4: "d"},
        ),
        "compact_manifest": (
            True, None,
            lambda spark, root, **kw: txn.compact_manifest(spark, root, **kw),
            base,
        ),
        "restore": (
            True, None,
            lambda spark, root, **kw: txn.restore(root, version=1, **kw),
            {1: "a", 2: "b"},
        ),
        "rename_column": (
            True, None,
            lambda spark, root, **kw: txn.rename_column(root, "v", "w", **kw),
            base,
        ),
        "add_column": (
            True, None,
            lambda spark, root, **kw: txn.add_column(root, "x", "int", **kw),
            base,
        ),
        "drop_column": (
            True, None,
            lambda spark, root, **kw: txn.drop_column(root, "ts", **kw),
            base,
        ),
        "add_constraint": (
            True, None,
            lambda spark, root, **kw: txn.add_constraint(
                spark, root, "pos", "ts > 0", **kw
            ),
            base,
        ),
        "drop_constraint": (
            True,
            lambda spark, root: txn.add_constraint(
                spark, root, "pos", "ts > 0"
            ),
            lambda spark, root, **kw: txn.drop_constraint(root, "pos", **kw),
            base,
        ),
        "drop_partitions": (
            True, None,
            lambda spark, root, **kw: txn.drop_partitions(root, ["p2"], **kw),
            {1: "a", 3: "c"},
        ),
        "repartition_table": (
            True, None,
            lambda spark, root, **kw: txn.repartition_table(
                spark, root, None, **kw
            ),
            base,
        ),
    }
    for mode in ("rewrite", "dv"):
        cases[f"delete_where-{mode}"] = (
            True, None, delete(mode), {2: "b", 3: "c"}
        )
        cases[f"update_where-{mode}"] = (
            True, None, update(mode), {**base, 2: "z"}
        )
        cases[f"merge_into-{mode}"] = (
            True, None, merge(mode), {**base, 3: "m"}
        )
    return cases


def _pdf(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, v string, ts bigint, p string"
    )


@pytest.mark.parametrize("verb", sorted(_lost_race_cases()))
def test_every_committing_verb_survives_lost_races(spark, tmp_path, verb):
    """Every verb runs on the one commit loop: two lost conditional
    puts still land exactly one new version with the verb's rows, and
    a backend that never succeeds gives up after exactly max_retries
    puts with the tip unchanged and no written dir left behind."""
    from feature_store_spark.pipelines import txn

    partitioned, prepare, call, expected = _lost_race_cases()[verb]

    def fresh(name):
        root = str(tmp_path / name)
        for rows in ([(1, "a", 1, "p1"), (2, "b", 1, "p2")],
                     [(3, "c", 2, "p1")]):
            if partitioned:
                txn.upsert_manifest_partitioned(
                    _pdf(spark, rows), root, ["user_id"], "ts", "p"
                )
            else:
                txn.upsert_manifest(_pdf(spark, rows), root, ["user_id"], "ts")
        if prepare is not None:
            prepare(spark, root)
        return root

    def data_dirs(root):
        return set(os.listdir(os.path.join(root, "data")))

    root = fresh("flaky")
    v0 = latest_version(root)
    flaky = FlakyBackend(fail_puts=2)
    call(spark, root, backend=flaky)
    assert flaky.attempts == 3
    assert latest_version(root) == v0 + 1
    got, _ = read_table(spark, root)
    key, val = got.columns[:2]
    assert {r[key]: r[val] for r in got.collect()} == expected

    root = fresh("dead")
    v0, before = latest_version(root), data_dirs(root)
    dead = FlakyBackend(fail_puts=10**9)
    with pytest.raises(RuntimeError, match="gave up"):
        call(spark, root, backend=dead, max_retries=3)
    assert dead.attempts == 3
    assert latest_version(root) == v0
    assert data_dirs(root) == before


def test_schema_evolution_type_widening(spark, tmp_path):
    """Widening matrix: int->long, float->double, decimal precision
    growth all merge under allow_schema_evolution with both sides cast
    to the widened type; incompatible pairs (string vs int) raise a
    targeted error instead of Spark's silent set-op coercion; a type
    change WITHOUT the flag raises too; prior versions still
    time-travel under their own narrower schema."""
    root = str(tmp_path / "t")
    narrow = spark.createDataFrame(
        [(1, 10, 1.5, "9.99", 1)],
        "user_id bigint, n int, x float, d string, ts bigint",
    ).withColumn("d", F.col("d").cast("decimal(10,2)"))
    upsert_manifest(narrow, root, ["user_id"], "ts")

    wide = spark.createDataFrame(
        [(2, 20, 2.5, "12345678901.999", 2)],
        "user_id bigint, n bigint, x double, d string, ts bigint",
    ).withColumn("d", F.col("d").cast("decimal(14,3)"))
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        upsert_manifest(wide, root, ["user_id"], "ts")
    upsert_manifest(
        wide, root, ["user_id"], "ts", allow_schema_evolution=True
    )
    cur, _ = read_table(spark, root)
    types = dict(cur.dtypes)
    assert types["n"] == "bigint"
    assert types["x"] == "double"
    assert types["d"] == "decimal(14,3)"
    got = {r["user_id"]: r for r in cur.collect()}
    assert got[1]["n"] == 10 and got[2]["n"] == 20
    assert str(got[1]["d"]) == "9.990"  # rescaled, value preserved
    old, _ = read_table(spark, root, version=1)
    assert dict(old.dtypes)["n"] == "int"  # time travel keeps schema

    incompatible = spark.createDataFrame(
        [(3, "not_an_int", 3)], "user_id bigint, n string, ts bigint"
    )
    with pytest.raises(ValueError, match="not a safe widening"):
        upsert_manifest(
            incompatible,
            root,
            ["user_id"],
            "ts",
            allow_schema_evolution=True,
        )


def test_concurrent_vacuums_dont_crash(spark, tmp_path):
    """Two simultaneous vacuums racing over the same history: both
    must finish (the prune pass tolerates manifests a concurrent
    vacuum already deleted), the union of their removals covers the
    pruned versions exactly once per dir, and the tip stays readable
    throughout."""
    root = str(tmp_path / "t")
    for i in range(8):
        upsert_manifest(
            _df(spark, [(1, f"v{i}", i)]), root, ["user_id"], "ts"
        )
    results: dict[int, list[str]] = {}
    errors: list[Exception] = []

    def run(slot):
        try:
            results[slot] = vacuum(root, keep_last=1)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    t1 = threading.Thread(target=run, args=(1,))
    t2 = threading.Thread(target=run, args=(2,))
    t1.start()
    t2.start()
    t1.join()
    t2.join()
    assert not errors
    # both racers may observe the same dir vanish (rmtree is
    # idempotent) — the invariant is the UNION: exactly the 7 pruned
    # snapshots' dirs, never the kept tip's
    assert len(set(results[1] + results[2])) == 7
    assert _snap(spark, root) == {1: ("v7", 7)}
    assert latest_version(root) == 8


def test_manifest_versions_beyond_8_digits_stay_visible(tmp_path):
    """_manifest_path zero-pads to 8 digits but formats wider past
    99,999,999 — _list_versions must still discover such manifests or
    every later writer wedges retrying a 'free' taken version."""
    import json as _json
    import os as _os

    from feature_store_spark.pipelines.txn import (
        _manifest_path,
        latest_version,
    )

    root = str(tmp_path / "t")
    _os.makedirs(_os.path.join(root, "_manifests"))
    big = 100_000_000
    with open(_manifest_path(root, big), "w") as f:
        _json.dump({"version": big, "data_dir": "data/x"}, f)
    assert latest_version(root) == big


def test_mode_toggle_raises_instead_of_wiping(spark, tmp_path):
    """ADVICE r4 (medium): a manifest upsert onto an EXISTING plain
    parquet store must raise with a migration hint, not silently
    commit a snapshot that drops every previously stored key."""
    plain = str(tmp_path / "plain")
    _df(spark, [(1, "a", 1)]).write.parquet(plain)
    with pytest.raises(ValueError, match="non-transactional.*migrate_to_manifest"):
        upsert_manifest(_df(spark, [(2, "b", 2)]), plain, ["user_id"], "ts")
    # the plain store is untouched by the refused commit
    assert {
        r["user_id"] for r in spark.read.parquet(plain).collect()
    } == {1}
    assert not os.path.exists(os.path.join(plain, "_manifests"))


def test_time_travel_and_vacuum(spark, tmp_path):
    root = str(tmp_path / "t")
    upsert_manifest(_df(spark, [(1, "v1", 1)]), root, ["user_id"], "ts")
    upsert_manifest(_df(spark, [(1, "v2", 2)]), root, ["user_id"], "ts")
    upsert_manifest(_df(spark, [(1, "v3", 3)]), root, ["user_id"], "ts")
    old, v = read_table(spark, root, version=1)
    assert v == 1 and old.collect()[0]["v"] == "v1"
    removed = vacuum(root, keep_last=1)
    assert len(removed) == 2
    assert _snap(spark, root) == {1: ("v3", 3)}
    with pytest.raises(FileNotFoundError):
        read_table(spark, root, version=1)
    with pytest.raises(ValueError, match="keep at least"):
        vacuum(root, keep_last=0)
