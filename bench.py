#!/usr/bin/env python
"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Protocol: each query's DataFrame is REBUILT for every run, then forced
end-to-end with a noop-format write (full compute, zero driver-side
materialization cost) — one warmup pass, then the best of
SPARK_GRAFT_BENCH_RUNS (default 3) timed runs. The warmup absorbs JVM
JIT + whole-stage-codegen compilation + parquet footer caching;
best-of-N guards against external load spikes on a shared box
(measured: identical queries swing 3 s ↔ 50 s with ambient load).
Rebuilding the plan per run matters for honesty, not just hygiene:
queries that stage intermediates via lazy ``localCheckpoint`` (the
shingle/signature barrier in the dedup family) would otherwise REUSE
the checkpointed data across runs — the timed runs would skip the
shingling compute entirely and report a number no fresh execution can
achieve. Sub-0.5 s queries (on either engine) additionally get
SPARK_GRAFT_BENCH_EXTRA (default 2) EXTRA timed trials (both
engines, still interleaved): at that scale a single trial landing on
the previous query's JVM tail (GC, block-manager cleanup) shows up
as a 1.5-2x outlier, and with only 3 trials the min statistic cannot
always escape it (round 10's d_simhash read 0.45 in-bench vs
0.34-0.38 isolated on untouched code — VERDICT r10 item 3). Extra
trials only tighten the min; queries >= 0.5 s keep the exact prior
trial count, so totals remain comparable round-over-round. The per-run py4j DataFrame construction stays OUTSIDE the
timed window (built before t0); JVM-side analysis/optimization runs
lazily inside the first action and is therefore included, as it is
for DuckDB's parse/plan. Set SPARK_GRAFT_BENCH_WARMUP=0 /
SPARK_GRAFT_BENCH_RUNS=1 for single cold-ish runs. Spark and DuckDB
trials for each query are INTERLEAVED (S,D,S,D,…) so both engines
sample the same ambient-load window, and the payload carries
start/end ``loadavg`` so a loaded run is self-describing.

Local-mode configs (bench only — get_spark defaults stay
cluster-shaped): shuffle partitions sized per query family (see
HEAVY_SHUFFLE — AQE coalescing fixes the post-shuffle side but not
the initial task count), static planning (AQE's per-stage re-optimization
jobs cost more than they save on sub-second queries; on a real
cluster AQE stays ON), a raised broadcast threshold (static size
estimates over-state aggregated join sides at toy scale), and
shuffled-hash over sort-merge for the non-broadcastable full-outer
feeds (no per-side sorts; Spark 3.1+ SHJ covers full outer).

Regression guard: per-query timings are compared against the newest
BENCH_r*.json in the repo root; any query slower than 1.5× its prior
round is listed in the "regressions" output field and warned on
stderr.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

# Core feature-store surface + a slice of every extension family
# (dedup, similarity, text, multimodal, streaming-replay).
HEADLINE = [
    "pipeline_user_features",
    "pipeline_transaction_features",
    "pipeline_risk_features",
    "pipeline_serving_join",
    "serving_from_store",
    "a7_stats_outliers",
    "w1_latest_event_per_user",
    "u1_union_active_keys",
    "o3_deterministic_sample",
    "st5_velocity_features",
    "st7_session_features",
    "w7_rolling_spend",
    "w8_scd2_history",
    "w10_funnel_conversion",
    "s12_cdc_apply",
    "a16_hll_sketch_rollup",
    "a20_decayed_features",
    "o7_priority_sample",
    "t_text_stats",
    "t_quality_score",
    "t_vocab_coverage",
    "d_exact_dedup",
    "d_minhash_lsh_pairs",
    "d_simhash_near_dup",
    "d_lsh_incremental",
    "sim_cosine_topk",
    "sim_cosine_topk_int8",
    "sim_knn_graph",
    "pt_repetition_stats",
    "pt_dup_span_stats",
    "mm_decode_media",
    "d_chunk_dedup",
    "w12_cohort_retention",
    "a27_ab_test_report",
    "emb_kmeans_clusters",
    "w13_gap_fill",
    "w14_event_transitions",
    "a30_behavior_entropy",
]

REGRESSION_FACTOR = 1.5

# Shuffle width is workload-proportional, the same sizing a cluster
# gets from AQE coalescing (disabled here because its per-stage
# re-planning jobs cost more than they save on sub-second queries).
# Measured sweep at sf0.1 (best-of-3 per width): the compute-heavy
# dedup/similarity/ngram family bottoms out at 16 partitions
# (4.11 s @4 -> 3.14 s @16 -> 4.62 s @32 for the five heavy
# queries), while the thin feature pipelines bottom out at 2
# (3.10 s @4 -> 2.35 s @2 on the nine light queries; @1 regresses
# st5 8x by serializing its two self-feeds). At sf~1 the same split
# holds with wider floors: the light family's shuffles carry
# key-cardinality-sized (per-user) combined partials, NOT fact rows,
# so width 8 beats width 32 on 22 of 24 light queries (17.8 s vs
# 25.2 s total; st7 4.43 s -> 0.22 s) — exactly the width AQE's
# coalescer converges to on a cluster. The heavy family shuffles
# gram/signature-scale data and keeps full width. `spark.sql.
# shuffle.partitions` is a runtime conf, so the width is set per
# query.
HEAVY_SHUFFLE = {
    "d_minhash_lsh_pairs",
    "d_simhash_near_dup",
    "d_lsh_incremental",
    "sim_knn_graph",
    "pt_repetition_stats",
    "pt_dup_span_stats",
}


def _prior_timings(
    sf: float | None,
) -> tuple[dict[str, float], float | None]:
    """(per-query timings, floor_sec) from the newest BENCH_r*.json
    next to this script (written by the round driver) whose recorded
    scale factor matches this run's — cross-scale comparisons would
    false-flag every query (or mask real regressions). ({}, None) if
    none match. The prior floor lets the regression guard normalize
    for machine drift: this box's absolute timings swing up to ~2×
    between rounds (floor_sec 0.05 ↔ 0.084 measured within one day),
    and the scheduling floor — measured with the identical protocol —
    is the available same-file proxy for that drift."""
    here = os.path.dirname(os.path.abspath(__file__))
    best: tuple[int, dict[str, float], float | None] | None = None
    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                doc = json.load(f)
            parsed = doc.get("parsed", doc)
            queries = parsed.get("queries", {})
            prior_sf = parsed.get("sf")
            prior_floor = parsed.get("floor_sec")
        except (OSError, json.JSONDecodeError, AttributeError):
            continue
        if prior_sf != sf:
            continue
        rnd = int(m.group(1))
        if queries and (best is None or rnd > best[0]):
            best = (rnd, queries, prior_floor)
    return (best[1], best[2]) if best else ({}, None)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warmup = os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # parse sf from the LAST directory segment only (a parent dir like
    # /srv/sf1/... must not win) and require a digit-led number
    m = re.search(
        r"sf([0-9]+(?:\.[0-9]+)?)", os.path.basename(sf_dir.rstrip("/"))
    )
    sf = float(m.group(1)) if m else None

    # Daily-batch layout posture: serve the raw fact tables from the
    # co-bucketed catalog layout (pipelines/facts.py) — materialized
    # once during warmup/plan-build (never inside a timed window),
    # then reused by every run, exactly as a production deployment
    # lands facts bucketed once per day. SPARK_GRAFT_BUCKETED_FACTS=0
    # opts back into flat-parquet reads.
    os.environ.setdefault("SPARK_GRAFT_BUCKETED_FACTS", "1")

    from feature_store_spark.queries import SPECS, all_queries
    from feature_store_spark.session import get_spark

    all_queries()
    # Initial shuffle width sized per query family (HEAVY_SHUFFLE
    # above); AQE would coalesce the post-shuffle side but the initial
    # map/reduce task count (and its scheduling cost) is set here.
    # An UNPARSEABLE dir (no sfN in the basename) gets the big-data
    # config, not the toy one — under-parallelizing an unknown-size
    # corpus 16× is the expensive mistake.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if sf is None:
        print(
            f"WARNING: cannot parse scale factor from {sf_dir!r}; "
            f"assuming large (shuffle={cpus})",
            file=sys.stderr,
        )
    toy = sf is not None and sf <= 0.1
    light_shuffle = 2 if toy else min(8, cpus)
    heavy_shuffle = min(16, cpus) if toy else cpus
    spark = get_spark(
        "feature_store_bench",
        shuffle_partitions=light_shuffle,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
            "spark.locality.wait": "0",
            # constraint propagation re-derives filter constraints per
            # optimizer fixpoint round; measured ~5% of sub-second
            # query time on the widest pipeline plans, derives nothing
            # these hand-pushed-down plans need (pushdown is pinned by
            # test_plans.py). Cluster default stays ON in get_spark.
            "spark.sql.constraintPropagation.enabled": "false",
            # serve from sorted buckets without re-sorting (1 file per
            # bucket — see pipelines/store.py)
            "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
            # scan-split sizing: the default 128 MB split was sized
            # for cluster-scale files; the local fixtures pack whole
            # tables into a handful of row groups, so the default
            # pins scans (and their map-side partial aggregates) to
            # <8 tasks on 32 cores. 8 MB splits raise scan
            # parallelism: measured sf≈1 pipeline_user_features
            # 0.40→0.23 s, pipeline_risk_features 1.57→0.81 s, and a
            # 10-query sf0.1 sweep 4.18→2.96 s (29%). On a real
            # cluster size this ~1 split per core per input wave.
            "spark.sql.files.maxPartitionBytes": "8m",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Measured scheduler floor: a one-row one-stage plan timed with the
    # exact same protocol. Every query in this harness pays at least
    # this much regardless of its plan; queries whose DuckDB time is
    # below it are measuring the client constant, not the engine (see
    # BASELINE.md round-2 status). Emitted so the ratio-vs-oracle can
    # be read floor-corrected without re-deriving the constant.
    run(spark.range(1))
    floor = None
    for _ in range(n_runs):
        df = spark.range(1)
        t0 = time.perf_counter()
        run(df)
        dt = time.perf_counter() - t0
        floor = dt if floor is None else min(floor, dt)

    # Oracle companion (default on; SPARK_GRAFT_BENCH_ORACLE=0 to
    # skip): time the same queries' DuckDB oracle SQL over the same
    # parquet so the emitted line carries its own per-query ratios.
    # Trials are INTERLEAVED per query (S,D,S,D,…) — VERDICT r8 item
    # 1: with all-Spark-then-all-DuckDB ordering, ambient box load
    # lands on whichever side happens to run during the spike, and
    # the round-over-round headline ratio swung 0.62×↔1.77× on
    # identical code. Alternating trials makes both engines sample
    # the SAME load window per query; the min statistic then strips
    # what both sampled. The oracle still gets n_runs+2 trials (its
    # extra two run after the interleave — erring favors the oracle,
    # the honest direction for our ratios).
    with_oracle = os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") != "0"
    con = None
    if with_oracle:
        from feature_store_spark.oracle import duckdb_connection

        con = duckdb_connection(sf_dir)

    try:
        load_start = os.getloadavg()
    except OSError:
        load_start = None

    timings: dict[str, float] = {}
    duck: dict[str, float] = {}
    for name in HEADLINE:
        if name not in SPECS:
            # a silently dropped query would read as a speedup in
            # cross-run comparisons — make the drift loud
            print(
                f"WARNING: headline query {name!r} not registered; "
                "skipping",
                file=sys.stderr,
            )
            continue
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(heavy_shuffle if name in HEAVY_SHUFFLE else light_shuffle),
        )
        s = SPECS[name]
        sql = None
        if con is not None and s.sql is not None:
            # a deployed-artifact query (e.g. the int8 codes table)
            # gets its artifact built UNTIMED on the DuckDB side too,
            # so both engines' timed regions do the same work
            if s.bench_setup is not None:
                con.execute(s.bench_setup)
            sql = s.bench_sql or s.sql
        # warm both sides back-to-back (JIT/codegen/footers vs
        # parse/buffer cache), then alternate timed trials. The DuckDB
        # warm pass is gated on the SAME flag: with WARMUP=0 the
        # 'single cold-ish run' mode must compare cold Spark against
        # cold DuckDB (the oracle still keeps its +2 extra trials).
        if warmup:
            run(s.fn(spark, sf_dir))
            if sql is not None:
                con.execute(sql).fetchall()
        best = None
        d_best = None
        d_trials = n_runs + 2 if sql is not None else 0
        for i in range(max(n_runs, d_trials)):
            if i < n_runs:
                df = s.fn(spark, sf_dir)  # fresh plan: no cross-run
                # reuse of checkpointed intermediates
                t0 = time.perf_counter()
                run(df)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            if i < d_trials:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                dt = time.perf_counter() - t0
                d_best = dt if d_best is None else min(d_best, dt)
        # Sub-0.5 s stabilizer (see module docstring): extra
        # interleaved trials for BOTH engines so neither side's min
        # keeps a tail-contaminated outlier. Only lowers mins. Either
        # engine being sub-0.5 s triggers it.
        extra = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "2"))
        mins = [t for t in (best, d_best) if t is not None]
        if extra > 0 and mins and min(mins) < 0.5:
            for _ in range(extra):
                if best is not None:
                    df = s.fn(spark, sf_dir)
                    t0 = time.perf_counter()
                    run(df)
                    best = min(best, time.perf_counter() - t0)
                if d_best is not None:
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    d_best = min(d_best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        if d_best is not None:
            duck[name] = round(d_best, 3)

    prior, prior_floor = _prior_timings(sf)
    # machine-drift normalization: both floors are measured with the
    # identical 1-row protocol, so their ratio is a same-file proxy
    # for how much slower/faster the box is than the prior round —
    # without it, a 1.7× ambient slowdown false-flags every query
    # and a 1.7× ambient SPEEDUP masks real regressions (the < 1
    # side tightens the threshold). Clamped to [0.5, 2]: drift beyond
    # 2× either way means the rounds aren't comparable at all.
    drift = 1.0
    if prior_floor and floor:
        drift = min(2.0, max(0.5, floor / prior_floor))
    regressions = {}
    for name, t in timings.items():
        p = prior.get(name)
        if p and t > REGRESSION_FACTOR * drift * p:
            regressions[name] = {"prev": p, "now": t, "drift": round(drift, 2)}
            print(
                f"WARNING: {name} regressed {t / p:.2f}x "
                f"({p}s -> {t}s, drift-normalized threshold "
                f"{REGRESSION_FACTOR * drift:.2f}x)",
                file=sys.stderr,
            )

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "steady-state wall time: feature pipelines + "
        "operator sweep + LLM-data ops",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "floor_sec": round(floor, 3),
        "regressions": regressions,
        # per-query runtime posture (VERDICT r4 item 9): the shuffle
        # widths are box-tuned bench config, not engine defaults —
        # emitting them per entry keeps cross-round comparisons and
        # the cluster story auditable (get_spark defaults: AQE on,
        # cluster-shaped widths)
        "conf": {
            name: {
                "width": heavy_shuffle
                if name in HEAVY_SHUFFLE
                else light_shuffle,
                "aqe": False,
                "bucketed_facts": os.environ.get(
                    "SPARK_GRAFT_BUCKETED_FACTS"
                )
                == "1",
            }
            for name in timings
        },
    }

    if duck:
        payload["oracle_sec"] = duck
        payload["oracle_total"] = round(sum(duck.values()), 3)
        payload["oracle_runs"] = n_runs + 2
        payload["interleaved_trials"] = True
        # De-bimodalized headline (VERDICT r9 item 3): the totals
        # ratio keys on whichever single oracle query the OS decides
        # to deschedule (emb_kmeans_clusters' DuckDB side measured
        # 1.15 ↔ 8.2 s under identical code, swinging oracle_total
        # 7.1 ↔ 15.8 s). Per-query ratios plus their MEDIAN are
        # robust to one bimodal entry — the median moves only if half
        # the sweep moves, so consecutive quiet runs agree where the
        # totals ratio flips sides.
        ratios = {
            name: round(timings[name] / d, 3)
            for name, d in duck.items()
            if d > 0 and name in timings
        }
        if ratios:
            vals = sorted(ratios.values())
            mid = len(vals) // 2
            med = (
                vals[mid]
                if len(vals) % 2
                else (vals[mid - 1] + vals[mid]) / 2
            )
            payload["ratio"] = ratios
            payload["ratio_median"] = round(med, 3)
    # self-describing load: a payload measured at loadavg 8 reads
    # differently from one measured at 0.5 — emit both endpoints so a
    # loaded run is identifiable without out-of-band notes
    try:
        load_end = os.getloadavg()
    except OSError:
        load_end = None
    if load_start is not None and load_end is not None:
        payload["loadavg"] = {
            "start": [round(x, 2) for x in load_start],
            "end": [round(x, 2) for x in load_end],
        }

    print(json.dumps(payload))
    # The driver records only a ~2 KB TAIL of stdout; round 5's full
    # line outgrew the window and lost its head (BENCH_r05.json had
    # "parsed": null — Spark timings unrecoverable). Two guards:
    # (1) the full payload also lands in bench_last.json next to this
    # script (committed with the round, full per-query fidelity), and
    # (2) a compact summary line printed LAST carries the headline
    # fields in well under any plausible tail window, so truncation
    # can never eat the signal again.
    # bench_last.json is the ROUND artifact: only an sf0.1 run may
    # claim it (round 8's pinned sf0.1 payload was clobbered by a
    # later sf0.001 smoke run — VERDICT r8 item 2). Any other scale
    # writes bench_smoke.json (same fidelity, different name).
    # Semantics (VERDICT r9 item 7): the pin means QUIET-BOX
    # certification, and the guard enforces it — a run that STARTED
    # on a busy box (1-min loadavg above SPARK_GRAFT_BENCH_MAX_LOAD,
    # default 4.0) writes bench_loaded.json instead, so a driver or
    # dev run under ambient load can never silently replace the
    # committed quiet pin. SPARK_GRAFT_BENCH_FORCE=1 overrides.
    fname = "bench_last.json" if sf == 0.1 else "bench_smoke.json"
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "4"))
    forced = os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1"
    if (
        fname == "bench_last.json"
        and not forced
        and load_start is not None
        and load_start[0] > max_load
    ):
        print(
            f"WARNING: start loadavg {load_start[0]:.2f} > "
            f"{max_load}; writing bench_loaded.json instead of the "
            "quiet-box pin (SPARK_GRAFT_BENCH_FORCE=1 overrides)",
            file=sys.stderr,
        )
        fname = "bench_loaded.json"
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         fname),
            "w",
        ) as f:
            json.dump(payload, f)
    except OSError:
        pass  # a read-only checkout still gets the stdout lines
    # The summary line carries the full per-query map (VERDICT r10
    # item 2): the big payload line above gets tail-truncated by the
    # driver's ~2 KB stdout window, which left PERF_r10's per-query
    # and scaling blocks empty. 38 compact entries ≈ 1.3 KB — the
    # whole summary line fits the tail. Additions-only: every prior
    # summary key is unchanged.
    print(
        json.dumps(
            {
                "metric": "summary",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "floor_sec": round(floor, 3),
                "oracle_total": payload.get("oracle_total"),
                "ratio_median": payload.get("ratio_median"),
                "n_queries": len(timings),
                "regressions": regressions,
                "queries": timings,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
