"""Feature-engine benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts the engine's Spark session at its defaults
(``session.get_spark()``, ``SPARK_GRAFT_CPUS`` = usable CPUs), sets the
workload up five times on fresh roots, restarting the session each time
(``setup_s`` is the median), warms up, then runs operations for S
seconds and checks every result. The last line of stdout is one JSON
object; the line before it records the run's details (sample counts,
tail percentile, CPUs, load average).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` repeats
the run with spans around the engine's public functions and the
session event log on, and reports the per-layer metrics instead;
``trace.op_p50_ms`` minus the untraced ``op_p50_ms`` is the tracing
overhead. Spans are written to ``.perfbench_out/`` at exit.

Everything else the run writes goes to a temporary directory under
``.perfbench_tmp/`` in the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 5
# The inputs are small; a small fixed heap also keeps the JVM's peak RSS
# steady between runs (with 2g it varied by a quarter across seeds).
DRIVER_MEMORY = "1g"


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _peak_rss_mb(pid: int) -> float:
    """Summed peak resident size (VmHWM) of ``pid`` and its live
    descendants: this process, the JVM and its Python workers."""
    total_kb = 0
    for p in [pid] + _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway and wait until the JVM and every process
    it started (the Python worker daemon) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = _descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still running: {started}")
        time.sleep(0.1)


def _isolate(work: str, trace: bool) -> dict[str, str]:
    """Process environment and Spark conf that keep the run inside
    ``work``; returns the extra conf for ``get_spark``."""
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    return conf


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import layers
    from stats import summarize
    from tracing import Tracer
    from workloads import WORKLOADS

    load_start = os.getloadavg()
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(
        prefix=f"{workload}-{seed}-", dir=os.path.join(ROOT, ".perfbench_tmp")
    )
    spark = None
    try:
        conf = _isolate(work, trace)
        from feature_store_spark.session import get_spark

        wl = WORKLOADS[workload](seed, work)
        inputs = wl.generate()

        setup_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark(extra_conf=conf)
            if rep == 0:
                session_start_s = time.perf_counter() - t0
            wl.bootstrap(spark, rep)
            setup_s.append(time.perf_counter() - t0)

        tracer = Tracer() if trace else None
        if tracer:
            tracer.install(layers.targets())
        warm = wl.warmup(spark)
        probe = layers.Probe(wl) if tracer else None

        latencies, items, attempted, failed, op_spans = [], 0, 0, 0, []
        start_ns = time.time_ns()
        t_start = time.perf_counter()
        while True:
            span = tracer.open("bench.op", "bench.self_s") if tracer else None
            try:
                res = wl.op(spark)
            finally:
                if span:
                    tracer.close(span)
                    op_spans.append(span.id)
            latencies += res.latencies_ms
            items += res.items
            attempted += 1
            failed += not res.ok
            if time.perf_counter() - t_start >= seconds:
                break
        wall = time.perf_counter() - t_start
        end_ns = time.time_ns()

        n_checks, n_bad = wl.finish(spark)
        attempted += n_checks
        failed += n_bad
        summary = summarize(latencies, wl.tail_q)
        detail = {
            "workload": workload, "seed": seed, "inputs": inputs,
            "ops": attempted - n_checks, "samples": summary["n"],
            "tail_level": summary["tail_level"], "beyond": summary["beyond"],
            "wall_s": wall,
            "setup_reps_s": setup_s, "session_start_s": session_start_s,
            **warm, "nproc": os.cpu_count(),
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "loadavg_start": load_start,
        }
        if tracer:
            extra = probe.after_phase(spark, start_ns)
        rss_mb = _peak_rss_mb(os.getpid())
        spark.stop()
        spark = None
        detail["loadavg_end"] = os.getloadavg()

        if tracer:
            tracer.uninstall()
            metrics, per_span = layers.per_layer(
                tracer, op_spans, start_ns, end_ns, summary, session_start_s,
                os.path.join(work, "eventlog"), extra,
            )
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed{seed}.json"),
                {"detail": detail, "metrics": metrics, "span_spark": per_span},
            )
        else:
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "op_p50_ms": (summary["p50"], "ms"),
                "op_tail_ms": (summary["tail"], "ms"),
                "items_per_s": (items / wall, "1/s"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        print(json.dumps(detail), flush=True)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "feature_store_spark", "__init__.py")):
        print(f"perfbench: no feature_store_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
