"""Spans around the engine's public functions, and Spark's own
per-job metrics from the session event log.

The traced run patches module attributes (and two ``FeatureStore``
methods) with wrappers that record a span per call and set a Spark job
group naming it; the untraced run installs nothing. Spans stay in
memory and are written once at exit. After the session stops, its
event log is parsed and every job is attributed to the span that
submitted it: by job group when the group names a span, otherwise to
the innermost span open at the job's submission time (streaming
micro-batches run under the stream's own job group).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
import types
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start_ns: int
    end_ns: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9


class Tracer:
    """In-memory span recorder. A span opened on a thread with no open
    span (a streaming ``foreachBatch`` callback) becomes a child of the
    innermost span open on the thread that created the tracer, which is
    the one blocked waiting for that callback."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        span = Span(len(self.spans), parent and parent.id, name, layer, 0)
        self.spans.append(span)
        stack.append(span)
        _set_job_group(f"{GROUP_PREFIX}{span.id}", name)
        span.start_ns = time.time_ns()
        return span

    def close(self, span: Span) -> None:
        span.end_ns = time.time_ns()
        stack = self._stack()
        stack.pop()
        if stack:
            _set_job_group(f"{GROUP_PREFIX}{stack[-1].id}", stack[-1].name)
        else:
            _set_job_group(None, None)

    def current(self) -> Span | None:
        stack = self._stack() or self._main_stack
        return stack[-1] if stack else None

    def wrap(self, fn, name: str, layer: str | None, on_result=None):
        """``fn`` inside a span of ``layer``; with ``layer`` None, no
        span: ``on_result`` gets the innermost open span instead."""
        if layer is None:
            @functools.wraps(fn)
            def counted(*args, **kwargs):
                result = fn(*args, **kwargs)
                on_result(self.current(), result)
                return result

            return counted

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if on_result is not None:
                on_result(span, result)
            return result

        return traced

    def install(self, targets) -> None:
        """Patch each ``(module, attribute, layer[, on_result])`` target.
        ``attribute`` may be ``Class.method``. A module-level function
        is also patched in every loaded ``feature_store_spark`` module
        that imported it by name, so calls through those bindings are
        traced too."""
        for target in targets:
            mod_name, attr, layer = target[:3]
            on_result = target[3] if len(target) > 3 else None
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            original = getattr(owner, attr)
            name = f"{mod_name.rsplit('.', 1)[-1]}.{getattr(original, '__qualname__', attr)}"
            wrapper = self.wrap(original, name, layer, on_result)
            owners = [owner]
            if isinstance(owner, types.ModuleType):
                owners += [
                    m for n, m in list(sys.modules.items())
                    if n.startswith("feature_store_spark") and m is not owner
                    and getattr(m, attr, None) is original
                ]
            for o in owners:
                self._patched.append((o, attr, original))
                setattr(o, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], **extra}, f)


def _set_job_group(group: str | None, description: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, description)


# -- span arithmetic ------------------------------------------------------


def union_ns(intervals) -> int:
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Seconds of each span not covered by its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start_ns, s.end_ns))
    out = {}
    for s in spans:
        covered = union_ns(
            (max(a, s.start_ns), min(b, s.end_ns))
            for a, b in kids.get(s.id, ())
            if min(b, s.end_ns) > max(a, s.start_ns)
        )
        out[s.id] = (s.end_ns - s.start_ns - covered) / 1e9
    return out


def descendants(spans: list[Span], roots: set[int]) -> set[int]:
    """``roots`` plus every span below them (spans are in open order,
    so a parent always precedes its children)."""
    keep = set(roots)
    for s in spans:
        if s.parent in keep:
            keep.add(s.id)
    return keep


# -- Spark event log --------------------------------------------------------


@dataclass
class StageStats:
    submit_ms: int | None = None
    complete_ms: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class JobStats:
    submit_ms: int
    group: str | None
    stage_ids: list[int]


def parse_event_log(lines) -> tuple[dict[int, JobStats], dict[int, StageStats]]:
    """Jobs and per-stage task totals from Spark event-log JSON lines."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, StageStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = JobStats(
                ev["Submission Time"], props.get("spark.jobGroup.id"),
                list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], StageStats())
            st.submit_ms = info.get("Submission Time")
            st.complete_ms = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], StageStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            w = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write += w.get("Shuffle Bytes Written", 0)
            r = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    return jobs, stages


def _log_files(app: str) -> list[str]:
    """The event-log files of one application, in write order: the file
    itself, or the ``events_<n>_*`` parts of a rolling log directory."""
    if not os.path.isdir(app):
        return [app]
    parts = glob.glob(os.path.join(app, "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_event_logs(log_dir: str):
    """Parse every event log (one per SparkContext) under ``log_dir``;
    keys are (log number, id)."""
    jobs: dict[tuple[int, int], JobStats] = {}
    stages: dict[tuple[int, int], StageStats] = {}
    for n, app in enumerate(sorted(glob.glob(os.path.join(log_dir, "*")))):
        lines = []
        for path in _log_files(app):
            with open(path) as f:
                lines += f.readlines()
        j, s = parse_event_log(lines)
        jobs.update({(n, k): v for k, v in j.items()})
        stages.update({(n, k): v for k, v in s.items()})
    return jobs, stages


def attribute_jobs(spans: list[Span], jobs) -> dict:
    """job key → span id: the span its job group names, else the
    innermost span open at its submission time, else None."""
    by_group = {f"{GROUP_PREFIX}{s.id}": s.id for s in spans}
    out = {}
    for key, job in jobs.items():
        sid = by_group.get(job.group or "")
        if sid is None:
            t_ns = job.submit_ms * 1_000_000
            best = None
            for s in spans:
                if s.start_ns <= t_ns <= s.end_ns and (
                    best is None or s.start_ns >= best.start_ns
                ):
                    best = s
            sid = best and best.id
        out[key] = sid
    return out


SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def spark_totals(job_keys, jobs, stages) -> dict[str, float]:
    """Summed Spark metrics of the given jobs (each stage counted once)."""
    out = dict.fromkeys(SPARK_METRICS, 0)
    seen = set()
    for key in job_keys:
        out["jobs"] += 1
        run, _ = key
        for sid in jobs[key].stage_ids:
            st = stages.get((run, sid))
            if st is None or (run, sid) in seen or st.complete_ms is None:
                continue
            seen.add((run, sid))
            out["stages"] += 1
            out["tasks"] += st.tasks
            out["executor_run_s"] += st.run_ms / 1e3
            out["executor_cpu_s"] += st.cpu_ns / 1e9
            out["gc_s"] += st.gc_ms / 1e3
            out["shuffle_write_bytes"] += st.shuffle_write
            out["shuffle_read_bytes"] += st.shuffle_read
            out["spill_bytes"] += st.spill
    return out


def stage_intervals_ns(job_keys, jobs, stages) -> list[tuple[int, int]]:
    """(submission, completion) of every completed stage of the jobs."""
    out = []
    for key in job_keys:
        run, _ = key
        for sid in jobs[key].stage_ids:
            st = stages.get((run, sid))
            if st and st.submit_ms is not None and st.complete_ms is not None:
                out.append((st.submit_ms * 1_000_000, st.complete_ms * 1_000_000))
    return out
