#!/usr/bin/env python
"""Per-phase Spark jobs and wall time of the daily batch.

Runs the ``daily_batch`` benchmark operation (``run_daily_pipeline``,
``run_quality_report``, ``run_table_maintenance`` on the four table
roots) for consecutive ``ref_date``s on ``perfbench/datagen`` inputs,
and splits each op into four phases, counted by job group:

- ``groups``: the three feature groups (derive, cache, commit);
- ``export``: ``export_warehouse`` inside the pipeline;
- ``quality``: the quality report;
- ``maintenance``: compaction and vacuum of the four roots.

    python scripts_dev/daily_phase_probe.py [--ops N] [--seed S]
        [--customers C]

The first day is the store's initial commit and prints as warm-up; the
summary is the median over the other days. Jobs a worker thread starts
count under the group of the thread that submitted it
(``session.run_concurrently`` passes the group on).
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

PHASES = ("groups", "export", "quality", "maintenance")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ops", type=int, default=4, help="days after warm-up")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--customers", type=int, default=1500)
    args = ap.parse_args()

    import datagen

    from feature_store_spark.pipelines import drivers
    from feature_store_spark.session import get_spark
    from feature_store_spark.tables import REF_DATE

    work = tempfile.mkdtemp(prefix="daily_phase_probe_")
    in_dir, out = os.path.join(work, "in"), os.path.join(work, "out")
    datagen.generate_tables(in_dir, args.seed, args.customers)
    spark = get_spark("daily_phase_probe")
    sc = spark.sparkContext
    ref = dt.date.fromisoformat(REF_DATE)
    days = [
        (ref - dt.timedelta(days=args.ops - i)).isoformat()
        for i in range(args.ops + 1)
    ]
    secs: dict[str, float] = {}

    def phase(name, call):
        """Run ``call`` under job group ``name``, restoring the
        caller's group after; adds its wall time to ``secs``."""
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            return call()
        finally:
            secs[name] = secs.get(name, 0.0) + time.perf_counter() - t0
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, outer)

    export = drivers.export_warehouse
    rows = []
    try:
        for i, d in enumerate(days):
            tag = f"{i}."
            secs.clear()
            drivers.export_warehouse = lambda *a, **kw: phase(
                tag + "export", lambda: export(*a, **kw)
            )
            phase(tag + "groups", lambda: drivers.run_daily_pipeline(
                spark, in_dir, out, ref_date=d
            ))
            phase(tag + "quality", lambda: drivers.run_quality_report(
                spark, in_dir
            ))
            phase(tag + "maintenance", lambda: [
                drivers.run_table_maintenance(spark, os.path.join(out, k))
                for k in ("user_features", "transaction_features",
                          "risk_features", "warehouse/serving_features")
            ])
            # the export ran inside the pipeline's clock
            secs[tag + "groups"] -= secs[tag + "export"]
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            row = {
                p: (len(sc.statusTracker().getJobIdsForGroup(tag + p)),
                    secs[tag + p])
                for p in PHASES
            }
            rows.append(row)
            print(
                f"{d}{' (warm-up)' if i == 0 else ''}: "
                + "  ".join(f"{p} {n} jobs {s:.2f}s" for p, (n, s) in row.items())
                + f"  total {sum(n for n, _ in row.values())} jobs",
                flush=True,
            )
    finally:
        drivers.export_warehouse = export
        shutil.rmtree(work, ignore_errors=True)
    if len(rows) > 1:
        med = {
            p: (statistics.median(r[p][0] for r in rows[1:]),
                statistics.median(r[p][1] for r in rows[1:]))
            for p in PHASES
        }
        print(
            "median: "
            + "  ".join(f"{p} {n:g} jobs {s:.2f}s" for p, (n, s) in med.items())
            + f"  total {sum(n for n, _ in med.values()):g} jobs"
        )


if __name__ == "__main__":
    main()
