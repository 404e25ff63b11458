"""Differential snapshot of every committing table verb, for comparing
two checkouts of the engine.

Runs a fixed scenario on a flat and a partitioned manifest table:
upserts (merge, replace, passthrough, empty batch, ``txn`` replay,
stats/bloom, a CHECK violation, a NULL or NaN partition value, a
column named ``__ptok``), compaction
(plain, a ``min_files`` no-op, a partition subset, Z-order), purge,
``delete_where`` / ``update_where`` / ``merge_into`` in both modes,
``repartition_table`` both ways and the layout-mixing refusals. After
each step it records the return value (or the error's type and text),
the tip manifest with data-dir uuids, leaf-dir tokens and commit
timestamps normalised,
the sorted ``read_table`` rows, the Spark jobs the call ran and the
change feed of each version it committed (``table_changes(k-1, k)``
on the key (k, v), which identifies a row at every step; a checkout
whose ``table_changes`` still takes ``include_values`` runs it with
pre/post images and without ``unchanged`` rows, as the current one
returns them).

    PYTHONPATH=<checkout> python scripts_dev/verb_snapshot.py OUT.json

Two checkouts' outputs compare with ``diff`` (or ``--diff A B``,
which prints the differing steps field by field; ``jobs`` differences
are listed separately, as budgets rather than behaviour).
"""

from __future__ import annotations

import inspect
import json
import os
import re
import shutil
import sys
import tempfile
import uuid

_HEX = re.compile(r"data/[0-9a-f]{32}|__ptok=[0-9a-f]{16}")


def _normalise(obj, names: dict):
    """Replace each data-dir uuid and leaf-dir token by its order of
    first appearance and drop commit timestamps, so two runs of the
    scenario compare. Tokens are normalised because a write whose leaf
    keys are learnt hashes each value's Spark string form (a timestamp
    as epoch microseconds, a boolean as ``true``), not its manifest
    key, so the same leaf may carry another token across checkouts."""
    text = json.dumps(obj, sort_keys=True, default=str)
    text = _HEX.sub(
        lambda m: names.setdefault(
            m.group(0),
            f"data/D{len(names)}" if m.group(0).startswith("data/")
            else f"__ptok=T{len(names)}",
        ),
        text,
    )
    out = json.loads(text)
    if isinstance(out, dict):
        out.pop("committed_at", None)
    return out


def run(out_path: str) -> None:
    from pyspark.sql import functions as F

    from feature_store_spark.pipelines import txn
    from feature_store_spark.session import get_spark

    spark = get_spark("verb_snapshot", shuffle_partitions=4)
    sc = spark.sparkContext
    base = tempfile.mkdtemp(prefix="verb_snapshot_")
    names: dict = {}
    steps: list = []
    ddl = "k bigint, v string, ts bigint, p string, n bigint"

    def jobs_of(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    images = (
        {"include_values": True}
        if "include_values" in inspect.signature(txn.table_changes).parameters
        else {}
    )

    def feed(root, k):
        try:
            df = txn.table_changes(
                spark, root, k - 1, k, ["k", "v"], **images
            ).filter(F.col("status") != "unchanged")
            return sorted(
                json.dumps(r.asDict(), sort_keys=True, default=str)
                for r in df.collect()
            )
        except Exception as e:  # recorded, not raised, as in step()
            return {"error": type(e).__name__, "text": str(e).split("\n")[0]}

    def step(name, root, call):
        group = f"snap-{uuid.uuid4().hex}"
        before = txn.latest_version(root)
        loose = jobs_of(None)
        sc.setJobGroup(group, name)
        try:
            ret = call()
        except Exception as e:  # recorded, not raised: errors are data
            ret = {"error": type(e).__name__, "text": str(e).split("\n")[0]}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(jobs_of(group) | (jobs_of(None) - loose))
        v = txn.latest_version(root)
        manifest = txn.read_manifest(root, v) if v else None
        df, _ = txn.read_table(spark, root)
        rows = (
            sorted(json.dumps(r.asDict(), sort_keys=True, default=str)
                   for r in df.collect())
            if df is not None else None
        )
        ret = json.loads(json.dumps(ret, default=str).replace(base, "<base>"))
        steps.append({
            "step": name,
            "ret": _normalise(ret, names),
            "version": v,
            "manifest": _normalise(manifest, names),
            "rows": rows,
            "jobs": jobs,
            # version 1 has no predecessor the older feed could read
            "changes": {
                k: feed(root, k) for k in range(max(before, 1) + 1, v + 1)
            },
        })

    def frame(rows):
        return spark.createDataFrame(rows, ddl)

    def seed(n0, ts):
        return [(k, f"v{k}", ts, f"d{k % 3}", k * 10) for k in range(n0)]

    flat = os.path.join(base, "flat")
    part = os.path.join(base, "part")
    up = txn.upsert_manifest
    upp = txn.upsert_manifest_partitioned

    # --- flat table ---
    step("flat.upsert.first", flat, lambda: up(frame(seed(12, 1)), flat, ["k"], "ts"))
    step("flat.upsert.empty", flat, lambda: up(frame([]), flat, ["k"], "ts"))
    step("flat.upsert.merge", flat, lambda: up(
        frame([(1, "x", 2, "d1", 1), (40, "new", 2, "d1", 400)]), flat, ["k"], "ts"))
    step("flat.upsert.txn", flat, lambda: up(
        frame([(2, "t", 3, "d2", 2)]), flat, ["k"], "ts", txn=("app", 1)))
    step("flat.upsert.txn_replay", flat, lambda: up(
        frame([(2, "t2", 4, "d2", 2)]), flat, ["k"], "ts", txn=("app", 1)))
    step("flat.upsert.check_violation", flat, lambda: up(
        frame([(3, "c", 5, "d0", -1)]), flat, ["k"], "ts",
        constraints=[("n_nonneg", "n >= 0")]))
    step("flat.upsert.evolve", flat, lambda: up(
        frame([(5, "e", 6, "d2", 5)]).withColumn("extra", F.lit(7)),
        flat, ["k"], "ts", allow_schema_evolution=True))
    step("flat.guard.partitioned_upsert", flat, lambda: upp(
        frame([(1, "a", 9, "d1", 1)]).withColumn("extra", F.lit(1)),
        flat, ["k"], "ts", "p"))
    for _ in range(2):
        up(frame([(7, "w", 7, "d1", 7)]).withColumn("extra", F.lit(1)),
           flat, ["k"], "ts")
    step("flat.compact", flat, lambda: txn.compact_manifest(spark, flat))
    step("flat.compact.min_files_noop", flat, lambda: txn.compact_manifest(
        spark, flat, min_files=100))
    step("flat.compact.zorder", flat, lambda: txn.compact_manifest(
        spark, flat, zorder_cols=["k", "n"]))
    step("flat.delete.rewrite", flat, lambda: txn.delete_where(
        spark, flat, [("k", "=", 4)]))
    step("flat.delete.rewrite_nomatch", flat, lambda: txn.delete_where(
        spark, flat, [("k", "=", 999)]))
    step("flat.update.rewrite", flat, lambda: txn.update_where(
        spark, flat, [("k", "<", 3)], {"v": "u"}))
    step("flat.merge.rewrite", flat, lambda: txn.merge_into(
        spark, flat, frame([(6, "m", 9, "d0", 60), (50, "i", 9, "d2", 500)]),
        ["k"], when_matched=[(None, {"v": "s.v"})], when_not_matched=(None, None)))
    step("flat.delete.dv", flat, lambda: txn.delete_where(
        spark, flat, [("k", "=", 8)], mode="dv"))
    step("flat.update.dv", flat, lambda: txn.update_where(
        spark, flat, [("k", "=", 9)], {"v": "udv"}, mode="dv"))
    step("flat.merge.dv", flat, lambda: txn.merge_into(
        spark, flat, frame([(10, "mdv", 9, "d1", 100), (60, "idv", 9, "d0", 600)]),
        ["k"], when_matched=[(None, {"v": "s.v"})], when_not_matched=(None, None),
        mode="dv"))
    step("flat.purge", flat, lambda: txn.purge_deletes(spark, flat))
    step("flat.repartition.to_part", flat, lambda: txn.repartition_table(
        spark, flat, "p", stats_cols=["k"], bloom_cols=["k"]))
    step("flat.repartition.to_flat", flat, lambda: txn.repartition_table(
        spark, flat, None))

    # --- partitioned table ---
    step("part.upsert.first", part, lambda: upp(
        frame(seed(12, 1)), part, ["k"], "ts", "p"))
    step("part.upsert.empty", part, lambda: upp(frame([]), part, ["k"], "ts", "p"))
    step("part.upsert.merge_one", part, lambda: upp(
        frame([(1, "x", 2, "d1", 1)]), part, ["k"], "ts", "p"))
    step("part.upsert.merge_stats", part, lambda: upp(
        frame([(2, "y", 2, "d2", 2), (3, "z", 2, "d0", 3)]), part, ["k"], "ts",
        "p", stats_cols=["k", "n"], bloom_cols=["k"]))
    step("part.upsert.replace", part, lambda: upp(
        frame([(4, "r", 3, "d1", 4)]), part, ["k"], "ts", "p", mode="replace"))
    step("part.upsert.passthrough", part, lambda: upp(
        frame([(5, "a", 3, "d3", 5), (5, "b", 3, "d3", 5)]), part, None, "ts",
        "p", mode="replace", stats_cols=["k"]))
    step("part.upsert.null_partition", part, lambda: upp(
        frame([(6, "n", 3, None, 6)]), part, ["k"], "ts", "p"))
    step("part.upsert.check_violation", part, lambda: upp(
        frame([(7, "c", 4, "d1", -1)]), part, ["k"], "ts", "p",
        constraints=[("n_nonneg", "n >= 0")]))
    step("part.guard.flat_upsert", part, lambda: up(
        frame([(1, "a", 9, "d1", 1)]), part, ["k"], "ts"))
    step("part.guard.other_col", part, lambda: upp(
        frame([(1, "a", 9, "d1", 1)]), part, ["k"], "ts", "v"))
    for ts in (5, 6):
        upp(frame([(k, "w", ts, "d1", k) for k in range(20, 24)]),
            part, ["k"], "ts", "p")
    step("part.compact.min_files_noop", part, lambda: txn.compact_manifest(
        spark, part, min_files=100))
    step("part.compact.subset", part, lambda: txn.compact_manifest(
        spark, part, partition_values=["d1"]))
    step("part.compact", part, lambda: txn.compact_manifest(spark, part))
    step("part.compact.zorder", part, lambda: txn.compact_manifest(
        spark, part, zorder_cols=["k"]))
    step("part.delete.rewrite", part, lambda: txn.delete_where(
        spark, part, [("k", "in", [4, 20])]))
    step("part.delete.rewrite_empties", part, lambda: txn.delete_where(
        spark, part, [("p", "=", "d3")]))
    step("part.update.rewrite", part, lambda: txn.update_where(
        spark, part, [("k", "<", 3)], {"v": "u"}))
    step("part.merge.rewrite", part, lambda: txn.merge_into(
        spark, part, frame([(6, "m", 9, "d0", 60), (50, "i", 9, "d4", 500)]),
        ["k", "p"], when_matched=[(None, {"v": "s.v"})],
        when_not_matched=(None, None)))
    step("part.delete.dv", part, lambda: txn.delete_where(
        spark, part, [("k", "=", 8)], mode="dv"))
    step("part.update.dv", part, lambda: txn.update_where(
        spark, part, [("k", "in", [9, 10])], {"v": "udv"}, mode="dv"))
    step("part.merge.dv", part, lambda: txn.merge_into(
        spark, part, frame([(11, "mdv", 9, "d2", 110), (70, "idv", 9, "d5", 700)]),
        ["k", "p"], when_matched=[(None, {"v": "s.v"})],
        when_not_matched=(None, None), mode="dv"))
    step("part.purge", part, lambda: txn.purge_deletes(spark, part))
    step("part.repartition.rekey", part, lambda: txn.repartition_table(
        spark, part, "v", stats_cols=["n"]))
    step("part.repartition.to_flat", part, lambda: txn.repartition_table(
        spark, part, None))

    # --- edge cases: a column named like the layout's, a NaN partition ---
    nan = os.path.join(base, "nan")
    step("nan.upsert.nan_partition", nan, lambda: upp(
        frame(seed(4, 1)).withColumn(
            "f", F.when(F.col("k") == 1, F.lit(float("nan"))).otherwise(F.lit(1.5))),
        nan, ["k"], "ts", "f"))
    step("nan.compact", nan, lambda: txn.compact_manifest(spark, nan))
    step("nan.repartition.to_flat", nan, lambda: txn.repartition_table(
        spark, nan, None))

    odd = os.path.join(base, "odd")
    step("odd.upsert.ptok_column", odd, lambda: up(
        frame(seed(3, 1)).withColumn("__ptok", F.lit("mine")), odd, ["k"], "ts"))

    with open(out_path, "w") as f:
        json.dump(steps, f, indent=1, sort_keys=True)
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)


def diff(a_path: str, b_path: str) -> int:
    a, b = ({s["step"]: s for s in json.load(open(p))} for p in (a_path, b_path))
    bad = 0
    if a.keys() != b.keys():
        bad += 1
        print(f"steps differ: {sorted(a.keys() ^ b.keys())}")
    for name in a.keys() & b.keys():
        for k in ("ret", "version", "manifest", "rows", "changes"):
            if a[name][k] != b[name][k]:
                bad += 1
                print(f"{name}.{k}:\n  A {a[name][k]}\n  B {b[name][k]}")
    for name in a.keys() & b.keys():
        if a[name]["jobs"] != b[name]["jobs"]:
            print(f"jobs {name}: {a[name]['jobs']} -> {b[name]['jobs']}")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    run(sys.argv[1])
