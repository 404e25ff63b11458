"""Per-layer metrics of a traced run. Layers are the engine's modules;
each is measured from outside by the spans ``targets`` installs around
its public functions."""

from __future__ import annotations

import os
import statistics

import tracing

FS = "feature_store_spark"

# Layer time metrics: summed self time of the layer's spans inside the
# timed operations.
TIME_LAYERS = (
    "tables.load_s",
    "drivers.daily_self_s",
    "drivers.maintenance_self_s",
    "features.derive_build_s",
    "sinks.export_warehouse_s",
    "aggregates.quality_s",
    "txn.upsert_manifest_s",
    "txn.read_table_s",
    "txn.read_changes_stream_s",
    "txn.compact_manifest_s",
    "txn.vacuum_s",
    "serving.lookup_s",
    "serving.refresh_s",
    "streaming.drain_self_s",
    "bench.self_s",
)


def _hit(span, result) -> None:
    results = result if isinstance(result, list) else [result]
    span.attrs["hit"] = all(r.cache_hit for r in results)


def _batches(span, result) -> None:
    span.attrs["batches"] = result["batches"]


def _invalidated(span, result) -> None:
    if span is not None:
        span.attrs["invalidated"] = span.attrs.get("invalidated", 0) + result


def targets() -> list[tuple]:
    """(module, attribute, layer[, on_result]) for every traced call;
    layer None counts without opening a span."""
    drv = f"{FS}.pipelines.drivers"
    agg = f"{FS}.operators.aggregates"
    feat = f"{FS}.pipelines.features"
    txn = f"{FS}.pipelines.txn"
    srv = f"{FS}.serving.store"
    return [
        (f"{FS}.tables", "load_table", "tables.load_s"),
        (drv, "run_daily_pipeline", "drivers.daily_self_s"),
        (drv, "run_table_maintenance", "drivers.maintenance_self_s"),
        (drv, "run_quality_report", "aggregates.quality_s"),
        (agg, "freshness_report", "aggregates.quality_s"),
        (agg, "completeness_report", "aggregates.quality_s"),
        (agg, "stats_with_outliers", "aggregates.quality_s"),
        (feat, "derive_user_features", "features.derive_build_s"),
        (feat, "derive_transaction_features", "features.derive_build_s"),
        (feat, "derive_risk_features", "features.derive_build_s"),
        (f"{FS}.pipelines.sinks", "export_warehouse", "sinks.export_warehouse_s"),
        (txn, "upsert_manifest", "txn.upsert_manifest_s"),
        (txn, "upsert_manifest_partitioned", "txn.upsert_manifest_s"),
        (txn, "read_table", "txn.read_table_s"),
        (txn, "read_changes_stream", "txn.read_changes_stream_s"),
        (txn, "compact_manifest", "txn.compact_manifest_s"),
        (txn, "vacuum", "txn.vacuum_s"),
        (srv, "FeatureStore.get_features", "serving.lookup_s", _hit),
        (srv, "FeatureStore.get_batch_features", "serving.lookup_s", _hit),
        (srv, "FeatureStore.invalidate", None, _invalidated),
        (srv, "refresh_serving_from_changes", "serving.refresh_s"),
        (
            f"{FS}.streaming.pipeline", "run_streaming_upsert_manifest",
            "streaming.drain_self_s", _batches,
        ),
    ]


class Probe:
    """Table and cache state at the start of the timed phase, for the
    deltas reported at its end."""

    def __init__(self, workload) -> None:
        from feature_store_spark.pipelines.txn import latest_version

        self.wl = workload
        self.versions = {r: latest_version(r) for r in workload.txn_roots()}
        store = getattr(workload, "store", None)
        self.cache = (store.hits, store.misses) if store else (0, 0)

    def after_phase(self, spark, start_ns: int) -> dict:
        from feature_store_spark.pipelines.txn import latest_version, table_files

        files = written = on_disk = live = 0
        versions = 0
        for root, v0 in self.versions.items():
            versions += latest_version(root) - v0
            for d, _, names in os.walk(root):
                for n in names:
                    st = os.stat(os.path.join(d, n))
                    on_disk += st.st_size
                    if n.endswith(".parquet") and st.st_mtime_ns >= start_ns:
                        files += 1
                        written += st.st_size
            live += sum(r["bytes"] or 0 for r in table_files(spark, root).collect())
        store = getattr(self.wl, "store", None)
        hits, misses = (store.hits, store.misses) if store else (0, 0)
        hits -= self.cache[0]
        misses -= self.cache[1]
        return {
            "txn.bytes_written": (written, "bytes"),
            "txn.files_written": (files, "count"),
            "txn.versions": (versions, "count"),
            "txn.space_amp": (on_disk / live if live else 0.0, "ratio"),
            "serving.hit_ratio": (
                hits / (hits + misses) if hits + misses else 0.0, "ratio"
            ),
        }


def per_layer(
    tracer, op_spans, start_ns, end_ns, summary, session_start_s, log_dir, extra
) -> tuple[dict, dict]:
    """Every per-layer metric of the timed phase, and Spark totals per
    span for the trace file."""
    spans = tracer.spans
    ops = set(op_spans)
    inside = tracing.descendants(spans, ops)
    selfs = tracing.self_times(spans)
    wall = (end_ns - start_ns) / 1e9

    layer_s = dict.fromkeys(TIME_LAYERS, 0.0)
    for sid in inside:
        layer_s[spans[sid].layer] += selfs[sid]

    op_of: dict[int, int] = {}
    for s in spans:
        if s.id in ops:
            op_of[s.id] = s.id
        elif s.parent in op_of:
            op_of[s.id] = op_of[s.parent]

    jobs, stages = tracing.read_event_logs(log_dir)
    owner = tracing.attribute_jobs(spans, jobs)
    timed_jobs = [k for k, sid in owner.items() if sid in inside]
    spark = tracing.spark_totals(timed_jobs, jobs, stages)
    gap = 0.0
    for op in ops:
        s = spans[op]
        ivs = tracing.stage_intervals_ns(
            [k for k in timed_jobs if op_of.get(owner[k]) == op], jobs, stages
        )
        clipped = [
            (max(a, s.start_ns), min(b, s.end_ns)) for a, b in ivs
            if min(b, s.end_ns) > max(a, s.start_ns)
        ]
        gap += (s.end_ns - s.start_ns - tracing.union_ns(clipped)) / 1e9

    lookups = [
        s for s in spans if s.id in inside and s.layer == "serving.lookup_s"
    ]
    hit_ms = [s.seconds * 1e3 for s in lookups if s.attrs.get("hit")]
    miss = [s for s in lookups if not s.attrs.get("hit")]
    miss_ids = tracing.descendants(spans, {s.id for s in miss})
    miss_jobs = sum(1 for k in timed_jobs if owner[k] in miss_ids)

    metrics = {"session.start_s": (session_start_s, "s")}
    metrics.update({k: (v, "s") for k, v in layer_s.items()})
    metrics.update(extra)
    metrics.update({
        "serving.hit_ms": (statistics.mean(hit_ms) if hit_ms else 0.0, "ms"),
        "serving.miss_ms": (
            statistics.mean(s.seconds * 1e3 for s in miss) if miss else 0.0, "ms"
        ),
        "serving.jobs_per_miss": (miss_jobs / len(miss) if miss else 0.0, "count"),
        "serving.invalidated": (
            sum(spans[i].attrs.get("invalidated", 0) for i in inside), "count"
        ),
        "streaming.batches": (
            sum(spans[i].attrs.get("batches", 0) for i in inside), "count"
        ),
    })
    metrics.update({
        f"spark.{k}": (v, "s" if k.endswith("_s") else (
            "bytes" if k.endswith("_bytes") else "count"
        ))
        for k, v in spark.items()
    })
    metrics["spark.sched_gap_s"] = (gap, "s")
    metrics["trace.wall_s"] = (wall, "s")
    metrics["trace.op_p50_ms"] = (summary["p50"], "ms")
    metrics["trace.attributed_frac"] = (
        sum(v for k, v in layer_s.items() if k != "bench.self_s") / wall, "ratio"
    )

    per_span = {}
    for sid in {owner[k] for k in timed_jobs}:
        per_span[sid] = tracing.spark_totals(
            [k for k in timed_jobs if owner[k] == sid], jobs, stages
        )
    return metrics, per_span
