"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


@pytest.mark.parametrize(
    "n, level",
    [
        (10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0),
        (200, 95.0), (199, 90.0), (100, 90.0), (99, 75.0), (40, 75.0),
        (39, 50.0), (20, 50.0), (19, 100.0), (1, 100.0),
    ],
)
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    if level < 100.0:
        assert n * (100.0 - level) >= stats.MIN_BEYOND * 100.0 - 1e-6


def test_summarize_reports_the_tail_at_the_rule_level():
    values = [float(v) for v in range(1, 201)]  # 200 samples -> p95
    s = stats.summarize(values, stats.tail_level(len(values)))
    assert s["n"] == 200 and s["tail_level"] == 95.0 and s["beyond"] == 10
    assert s["p50"] == 100.5
    assert s["tail"] == pytest.approx(stats.percentile(values, 95.0))
    assert sum(v > s["tail"] for v in values) == 10
    few = stats.summarize([3.0, 1.0, 2.0], stats.tail_level(3))
    assert few["tail_level"] == 100.0 and few["tail"] == 3.0


def _span(i, parent, start, end, layer="x"):
    return Span(i, parent, f"s{i}", layer, start, end)


def test_self_time_subtracts_nested_and_overlapping_children():
    spans = [
        _span(0, None, 0, 100),
        _span(1, 0, 10, 30),
        _span(2, 1, 15, 25),
        _span(3, 0, 20, 50),  # overlaps span 1 (another thread)
        _span(4, 0, 90, 120),  # runs past its parent: clipped
    ]
    self_s = {k: v * 1e9 for k, v in tracing.self_times(spans).items()}
    assert self_s[0] == pytest.approx(100 - 40 - 10)
    assert self_s[1] == pytest.approx(20 - 10)
    assert self_s[2] == pytest.approx(10)
    assert self_s[3] == pytest.approx(30)
    assert tracing.descendants(spans, {1}) == {1, 2}
    # self times of a tree with disjoint children add up to the root
    tree = spans[:3]
    assert sum(tracing.self_times(tree).values()) * 1e9 == pytest.approx(100)


def test_tracer_nests_spans_and_counts_without_spans():
    t = tracing.Tracer()

    def inner():
        return 2

    def outer():
        return t.wrap(inner, "m.inner", "b")() + counted()

    def seen(span, result):
        span.attrs["n"] = span.attrs.get("n", 0) + result

    counted = t.wrap(lambda: 1, "m.count", None, seen)
    assert t.wrap(outer, "m.outer", "a")() == 3
    names = [(s.name, s.parent, s.layer) for s in t.spans]
    assert names == [("m.outer", None, "a"), ("m.inner", 0, "b")]
    assert t.spans[0].attrs == {"n": 1}
    assert all(s.end_ns >= s.start_ns > 0 for s in t.spans)


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench-span-1"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 40, "Executor CPU Time": 30_000_000,
        "JVM GC Time": 5, "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 60, "Executor CPU Time": 50_000_000,
        "JVM GC Time": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Submission Time": 1005, "Completion Time": 1060}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 20, "Executor CPU Time": 10_000_000,
        "JVM GC Time": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 150}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 1, "Submission Time": 1070, "Completion Time": 1090}},
    # a job outside any known group: attributed by submission time; its
    # stage 0 reuse is skipped (never completed again)
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1095,
     "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "stream-run-id"}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 2, "Submission Time": 1096, "Completion Time": 1099}},
]


def test_event_log_parsing_and_attribution(tmp_path):
    # a rolling log: one application directory split into parts
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) + "\n" for e in CANNED_LOG]
    (app / "events_2_local-1").write_text("".join(lines[5:]))
    (app / "events_1_local-1").write_text("".join(lines[:5]))
    (app / "appstatus_local-1").write_text("")
    jobs, stages = tracing.read_event_logs(str(tmp_path))
    assert set(jobs) == {(0, 0), (0, 1)}
    ms = 1_000_000
    spans = [_span(0, None, 990 * ms, 1100 * ms), _span(1, 0, 995 * ms, 1092 * ms)]
    owner = tracing.attribute_jobs(spans, jobs)
    assert owner == {(0, 0): 1, (0, 1): 0}

    totals = tracing.spark_totals([(0, 0)], jobs, stages)
    assert totals == {
        "jobs": 1, "stages": 2, "tasks": 3,
        "executor_run_s": pytest.approx(0.12),
        "executor_cpu_s": pytest.approx(0.09),
        "gc_s": pytest.approx(0.005),
        "shuffle_write_bytes": 150, "shuffle_read_bytes": 150,
        "spill_bytes": 10,
    }
    ivs = tracing.stage_intervals_ns([(0, 0)], jobs, stages)
    # span 1 is 97 ms long; its stages cover 55 + 20 ms -> 22 ms gap
    assert (spans[1].end_ns - spans[1].start_ns - tracing.union_ns(ivs)) / ms == 22
