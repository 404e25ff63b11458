"""The benchmark's workloads. Each is a closed loop with one caller:
the next operation starts when the previous one returns.

A workload provides ``generate`` (seeded inputs, untimed),
``bootstrap`` (the set-up timed as ``setup_s``, repeated on a fresh
root), ``warmup`` (untimed operations that let JIT compilation and the
cache settle), ``op`` (one timed operation, checked for correctness
after its clock stops) and ``finish`` (untimed end-of-run checks).
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen
from stats import tail_level


@dataclass
class OpResult:
    latencies_ms: list[float]
    items: int
    ok: bool


class DailyBatch:
    """Nightly offline job over consecutive ``ref_date``s: the daily
    pipeline with transactional commits, the data-quality report, and
    table maintenance of the four table roots. The first day is the
    untimed warm-up and the store's initial commit; every later day
    rewrites changed rows."""

    name = "daily_batch"
    n_customers = 1500
    kinds = ("user_features", "transaction_features", "risk_features")
    roots = kinds + ("warehouse/serving_features",)
    max_days = 60
    # one op per ~8 s: too few samples for a percentile, the tail is the max
    tail_q = tail_level(3)

    def __init__(self, seed: int, work: str) -> None:
        from feature_store_spark.tables import REF_DATE

        self.seed = seed
        self.work = work
        self.in_dir = os.path.join(work, "in")
        ref = dt.date.fromisoformat(REF_DATE)
        self.dates = [
            (ref - dt.timedelta(days=self.max_days - 1 - i)).isoformat()
            for i in range(self.max_days)
        ]
        self.day = 0
        self.expected: dict[str, dict] = {k: {} for k in self.kinds}
        self.expected_cols: dict[str, list[str]] = {}

    def generate(self) -> dict:
        return datagen.generate_tables(self.in_dir, self.seed, self.n_customers)

    def txn_roots(self) -> list[str]:
        return [os.path.join(self.out, k) for k in self.roots]

    def bootstrap(self, spark, rep: int) -> None:
        from feature_store_spark import tables

        self.out = os.path.join(self.work, f"out{rep}")
        os.makedirs(self.out)
        for name in ("customer", "orders", "lineitem", "events", "documents"):
            tables.load_table(spark, self.in_dir, name)

    def warmup(self, spark) -> dict:
        t0 = time.perf_counter()
        res = self.op(spark)
        return {"first_day_s": time.perf_counter() - t0, "first_day_ok": res.ok}

    def op(self, spark) -> OpResult:
        from feature_store_spark.pipelines import drivers

        d = self.dates[self.day]
        self.day += 1
        t0 = time.perf_counter()
        r = drivers.run_daily_pipeline(
            spark, self.in_dir, self.out, ref_date=d, transactional=True
        )
        quality = drivers.run_quality_report(spark, self.in_dir)
        for kind in self.roots:
            drivers.run_table_maintenance(spark, os.path.join(self.out, kind))
        ms = (time.perf_counter() - t0) * 1e3
        ok = r.status == "SUCCESS" and all(
            v == 1.0 for v in quality["completeness"].values()
        )
        for kind, n in self._oracle_day(d).items():
            ok = ok and r.counts[kind] == n
        ok = ok and r.counts["warehouse_rows"] == r.counts["user_features"]
        return OpResult([ms], sum(r.counts.values()), ok)

    def _oracle_day(self, d: str) -> dict[str, int]:
        """Fold the day's oracle rows into the expected final store
        (last writer per user wins); returns the day's row counts."""
        from feature_store_spark import queries
        from feature_store_spark.oracle import duckdb_connection

        queries.all_queries()
        con = duckdb_connection(self.in_dir)
        counts = {}
        try:
            for kind in self.kinds:
                sql = queries.SPECS[f"pipeline_{kind}"].sql.replace(
                    queries.SQL_REF, f"DATE '{d}'"
                )
                rel = con.execute(sql)
                cols = [c[0] for c in rel.description]
                rows = rel.fetchall()
                key = cols.index("user_id")
                self.expected_cols[kind] = cols
                self.expected[kind].update((row[key], row) for row in rows)
                counts[kind] = len(rows)
        finally:
            con.close()
        return counts

    def finish(self, spark) -> tuple[int, int]:
        """Final snapshots (minus ``updated_at``) hash-match the folded
        oracle rows."""
        from feature_store_spark.oracle import _stringify_timestamps, value_hash
        from feature_store_spark.pipelines.txn import read_table

        failed = 0
        for kind in self.kinds:
            df, _ = read_table(spark, os.path.join(self.out, kind))
            df = df.drop("updated_at")
            rows = [tuple(r) for r in _stringify_timestamps(df).collect()]
            want = list(self.expected[kind].values())
            if value_hash(df.columns, rows) != value_hash(self.expected_cols[kind], want):
                failed += 1
        return len(self.kinds), failed


class StreamServe:
    """Online path: streaming ingest into the transactional risk-score
    table and serving reads from it. Per landed file: land it, drain
    the stream (one manifest commit), evict the changed users from the
    serving cache through the table's change feed, then read. The reads
    are point lookups of a seeded sample of the users the file's
    purchases touched (cache misses, filter+limit; latency counted from
    the moment the file started landing), one batch lookup of up to 100
    touched users (broadcast semi-join), and point lookups of users
    cached earlier and left unchanged by the file (cache hits)."""

    name = "stream_serve"
    n_users = 1500
    per_slice = 500
    n_slices = 200
    fresh_reads = 5
    warm_reads = 20
    warmup_cycles = 4
    # ~8 cycles of 5 fresh reads in a run: the tail is p75
    tail_q = tail_level(8 * fresh_reads)

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work

    def generate(self) -> dict:
        self.slices = datagen.event_slices(
            self.seed, self.n_slices, self.per_slice, self.n_users
        )
        return {"slices": self.n_slices, "per_slice": self.per_slice}

    def txn_roots(self) -> list[str]:
        return [self.table]

    def bootstrap(self, spark, rep: int) -> None:
        from feature_store_spark.pipelines.txn import read_table
        from feature_store_spark.serving.store import (
            FeatureStore,
            refresh_serving_from_changes,
        )
        from feature_store_spark.streaming.pipeline import (
            run_streaming_upsert_manifest,
        )

        base = os.path.join(self.work, f"stream{rep}")
        self.landing = os.path.join(base, "landing")
        self.table = os.path.join(base, "table")
        self.ckpt = os.path.join(base, "ckpt")
        self.cdc = os.path.join(base, "cdc")
        os.makedirs(self.landing)
        self.slice = 0
        self.latest: dict[int, tuple] = {}
        self.cached: set[int] = set()
        self.rng = np.random.default_rng([self.seed, 4])
        self._land()
        run_streaming_upsert_manifest(spark, self.landing, self.table, self.ckpt)
        df, _ = read_table(spark, self.table)
        self.store = FeatureStore({"risk": df})
        refresh_serving_from_changes(spark, self.store, self.table, self.cdc, "risk")

    def _land(self) -> list[int]:
        """Write the next slice into the landing directory (atomic
        rename; hidden names are invisible to the file source), fold
        its purchases into the expected latest value per user, and
        return the users they touched."""
        table = self.slices[self.slice]
        tmp = os.path.join(self.landing, f".part-{self.slice:05d}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.landing, f"part-{self.slice:05d}.parquet"))
        self.slice += 1
        touched = set()
        cols = table.to_pydict()
        for ts, eid, u, kind, v in zip(
            cols["ts"], cols["event_id"], cols["user_id"], cols["event_type"], cols["value"]
        ):
            if kind == "purchase" and (u not in self.latest or (ts, eid) > self.latest[u][:2]):
                self.latest[u] = (ts, eid, v)
                touched.add(u)
        return sorted(touched)

    def warmup(self, spark) -> dict:
        t0 = time.perf_counter()
        ok = all([self.op(spark).ok for _ in range(self.warmup_cycles)])
        return {"warmup_s": time.perf_counter() - t0, "warmup_ok": ok}

    def _ok(self, resp) -> bool:
        got = resp.features.get("risk") or {}
        ts, _, value = self.latest[resp.user_id]
        return got.get("risk_score") == value and got.get("ts") == ts

    def op(self, spark) -> OpResult:
        from feature_store_spark.serving.store import refresh_serving_from_changes
        from feature_store_spark.streaming.pipeline import (
            run_streaming_upsert_manifest,
        )

        t0 = time.perf_counter()
        touched = self._land()
        run_streaming_upsert_manifest(spark, self.landing, self.table, self.ckpt)
        refresh_serving_from_changes(spark, self.store, self.table, self.cdc, "risk")
        self.cached -= set(touched)
        fresh = self.rng.choice(touched, self.fresh_reads, replace=False).tolist()
        lags, resps = [], []
        for u in fresh:
            resps.append(self.store.get_features(u, ["risk"]))
            lags.append((time.perf_counter() - t0) * 1e3)
        batch = sorted(self.rng.choice(touched, min(100, len(touched)), replace=False).tolist())
        resps += self.store.get_batch_features(batch, ["risk"])
        warm = sorted(self.cached)
        warm = self.rng.choice(warm, min(self.warm_reads, len(warm)), replace=False).tolist()
        resps += [self.store.get_features(u, ["risk"]) for u in warm]
        self.cached |= set(fresh) | set(batch)
        return OpResult(lags, self.per_slice, all(self._ok(r) for r in resps))

    def finish(self, spark) -> tuple[int, int]:
        """The final table equals the latest purchase per user computed
        by DuckDB over every landed file."""
        from feature_store_spark.oracle import _stringify_timestamps, value_hash
        from feature_store_spark.pipelines.txn import read_table

        df, _ = read_table(spark, self.table)
        df = df.select("user_id", "risk_score", "ts")
        rows = [tuple(r) for r in _stringify_timestamps(df).collect()]
        con = duckdb.connect()
        try:
            rel = con.execute(f"""
                SELECT user_id, value AS risk_score, ts FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                  FROM read_parquet('{self.landing}/part-*.parquet')
                  WHERE event_type = 'purchase') t
                WHERE rn = 1""")
            want = rel.fetchall()
        finally:
            con.close()
        cols = ["user_id", "risk_score", "ts"]
        return 1, int(value_hash(cols, rows) != value_hash(cols, want))


WORKLOADS = {w.name: w for w in (DailyBatch, StreamServe)}
