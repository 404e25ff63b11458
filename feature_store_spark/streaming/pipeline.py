"""Structured Streaming feature updates (SURVEY.md §3.3; reference
`src/pipelines/feature_pipeline.py:90-309`, `docs/ADVANCED.md:823-940`).

The reference consumes a Kafka topic with a hand-rolled poll loop,
offset commits, and an in-memory sliding-window store. Here the same
semantics are the built-ins of Structured Streaming:

- source: ``readStream`` over a parquet/json event directory in tests
  (swap ``.format("kafka")`` + ``from_json(value)`` in production —
  same downstream plan);
- at-least-once + restart: checkpointing (ST6), replacing the manual
  offset/backoff loop;
- dispatch (ST1): a ``when`` routing column + invalid-row side output,
  replacing per-event-type Python handlers;
- velocity features (ST5): event-time sliding windows with a
  watermark bounding state, replacing the in-memory deque store;
- upserts (ST4) and cache invalidation (ST2): ``foreachBatch`` merge
  into the offline store, one atomic manifest commit per micro-batch
  (``txn.upsert_manifest``) — each micro-batch touches only the keys
  it saw, which is exactly the reference's per-event cache delete +
  UPDATE, batched.

Determinism for tests: ``trigger(availableNow=True)`` drains the
fixture directory as micro-batches and stops — the streaming plan is
exercised end-to-end with a reproducible result (the batch-replay
spec ``st5_velocity_features`` cross-checks the same feature math
against the DuckDB oracle).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

def _event_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# µs-typed fixtures read ts natively; nanos-typed fixtures surface ts
# as long under spark.sql.legacy.parquet.nanosAsLong (see
# tables.load_table for the batch-side twin of this guard).
EVENT_SCHEMA = _event_schema(TimestampType())
EVENT_SCHEMA_NANOS = _event_schema(LongType())

KNOWN_EVENT_TYPES = ("signup", "click", "purchase", "error", "view")

# Event-type → feature-group routing (reference
# `src/pipelines/feature_pipeline.py:154-177`).
ROUTES = {
    "signup": "user",
    "click": "user",
    "view": "user",
    "purchase": "transaction",
    "error": "risk",
}


def _ts_is_nanos(events_dir: str) -> bool:
    """Whether the landed events store ``ts`` as INT64
    TIMESTAMP(NANOS), read from ONE visible file's parquet footer
    (names starting with ``.`` or ``_`` are hidden, as for Spark's file
    source). INT96 and micro/millisecond timestamps are not nanos; an
    empty or absent directory (producer not started) is not either."""
    import json
    import os

    import pyarrow.parquet as pq

    for dirpath, dirs, files in os.walk(events_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        visible = sorted(f for f in files if not f.startswith((".", "_")))
        if visible:
            schema = pq.read_metadata(os.path.join(dirpath, visible[0])).schema
            if "ts" not in schema.names:
                return False
            col = schema.column(schema.names.index("ts"))
            return (
                col.physical_type == "INT64"
                and col.logical_type.type == "TIMESTAMP"
                and json.loads(col.logical_type.to_json())["timeUnit"]
                == "nanoseconds"
            )
    return False


def read_event_stream(
    spark: SparkSession,
    events_dir: str,
    ts_is_nanos: bool | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based event stream with the fixture schema. Streaming
    sources need the schema up front; ``ts_is_nanos`` picks it:
    ``False`` → plain TIMESTAMP fixtures stream as-is; ``True`` →
    TIMESTAMP(NANOS) fixtures (long under nanosAsLong) are truncated
    to microseconds exactly like tables.load_table. Default ``None``
    reads the physical type from one landed file's footer (no Spark
    job), falling back to plain TIMESTAMP when the directory has no
    files yet (the producer-not-started deployment order) — pass the
    flag explicitly when starting ahead of a nanos-typed producer."""
    if ts_is_nanos is None:
        ts_is_nanos = _ts_is_nanos(events_dir)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        # bounds per-micro-batch work (and, with availableNow, splits
        # a backlog into multiple batches instead of one giant drain)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if ts_is_nanos:
        raw = reader.schema(EVENT_SCHEMA_NANOS).parquet(events_dir)
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return reader.schema(EVENT_SCHEMA).parquet(events_dir)


def dispatch_events(events: DataFrame) -> DataFrame:
    """ST1: validate + route. Adds ``route`` (feature group to
    refresh) and ``valid``; malformed events (null user/type or
    unknown type) get route='invalid' and are counted, not dropped —
    the side-output pattern for late/invalid data."""
    route = F.lit("invalid")
    for etype, grp in ROUTES.items():
        route = F.when(F.col("event_type") == etype, grp).otherwise(route)
    valid = (
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("event_type").isin(*KNOWN_EVENT_TYPES)
    )
    return events.withColumn("valid", valid).withColumn(
        "route", F.when(valid, route).otherwise(F.lit("invalid"))
    )


def recompute_triggers(events: DataFrame) -> DataFrame:
    """ST3: high-priority risk recompute events for failure signals
    (reference emits ``recompute_features`` on failed/delayed payment,
    `src/pipelines/feature_pipeline.py:210-226`)."""
    return (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id"),
            F.lit("recompute_features").alias("trigger_type"),
            F.lit("risk").alias("feature_type"),
            F.lit("high").alias("priority"),
            F.col("ts").alias("triggered_at"),
        )
    )


def velocity_windows_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "5 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """ST5: sliding-window per-user velocity features with a watermark
    bounding state (reference's in-memory 5m/1h/24h deques,
    `docs/ADVANCED.md:831-940`). Exact distinct is replaced by
    ``approx_count_distinct`` — bounded-size sketch per open window,
    the documented bounded-state choice for streaming distinct counts.
    Late events beyond the watermark are dropped (policy: documented,
    matches the reference's eviction)."""
    purch = F.col("event_type") == "purchase"
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("transaction_velocity"),
            # zero-filled like every sibling spend aggregate (the F1
            # COALESCE convention): a window with no purchases spends 0
            F.coalesce(
                F.sum(F.when(purch, F.col("value"))), F.lit(0.0)
            ).alias("spending_velocity"),
            F.approx_count_distinct("event_type").alias(
                "approx_unique_event_types"
            ),
            F.count(F.when(purch, 1)).alias("n_purchases"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias(
                "n_errors"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "transaction_velocity",
            "spending_velocity",
            "approx_unique_event_types",
            "n_purchases",
            "n_errors",
        )
    )


def dedup_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """ST9: exactly-once ingest dedup — drop replayed/duplicate events
    by key within the watermark horizon
    (``dropDuplicatesWithinWatermark``: state holds one entry per key
    seen in the last ``watermark`` of event time and is evicted as the
    watermark advances, so memory is bounded by the duplicate-arrival
    horizon, not the stream's lifetime — the property plain
    ``dropDuplicates`` on a stream lacks). The streaming twin of
    ``llm/dedup.py::exact_dedup``'s keep-first semantics for at-least-
    once sources (a replayed Kafka partition, a re-delivered file).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def session_windows_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user via ``F.session_window`` —
    the streaming twin of ``operators.windows.sessionize`` (same
    half-open gap boundary, so a drained replay agrees with the batch
    form exactly on (user, session_start, n_events, spend)). The
    watermark bounds open-session state; ``session_end`` here is
    last-event + gap (Spark's window close), where the batch form
    reports last-event.

    Timestamps are second-truncated BEFORE the watermark (like
    ``band_join_stream``): the batch twin compares
    ``unix_timestamp``-truncated times, so a raw-µs gap fractionally
    under the threshold (prev .9s, next .1s) would otherwise merge
    here and split there."""
    purch = F.col("event_type") == "purchase"
    events = events.withColumn("ts", F.date_trunc("second", F.col("ts")))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                F.sum(
                    F.when(purch, F.round(F.col("value") * 100).cast("bigint"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("spend_cents"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_close"),
            "user_id",
            "n_events",
            "spend_cents",
        )
    )


def band_join_stream(
    events: DataFrame,
    band_seconds: int = 300,
    watermark: str = "2 hours",
) -> DataFrame:
    """ST8 (beyond reference): stream-stream interval join — clicks
    within ±``band_seconds`` of each error event per user, the
    streaming twin of the batch ``operators.joins.band_join`` spec
    (``j10_band_join``). Both sides carry watermarks and the join
    condition bounds click time to a window around error time, so
    Spark derives finite state-retention bounds: buffered rows older
    than watermark + band are evicted, keeping state proportional to
    the band, not the stream.

    Timestamps are second-truncated BEFORE the watermark so the band
    comparison matches the batch/oracle epoch-seconds semantics while
    the join condition still references the raw watermarked event-time
    columns (a derived expression there would defeat state-bound
    inference)."""
    trunc = F.date_trunc("second", F.col("ts"))
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_event_id"),
            F.col("user_id").alias("e_user"),
            trunc.alias("e_ts"),
        )
        .withWatermark("e_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            F.col("user_id").alias("c_user"),
            trunc.alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr(f"INTERVAL {band_seconds} SECONDS"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr(f"INTERVAL {band_seconds} SECONDS"))
    )
    return errors.join(clicks, cond).select(
        "error_event_id",
        F.col("e_user").alias("user_id"),
        "click_event_id",
        (F.unix_timestamp("e_ts") - F.unix_timestamp("c_ts"))
        .cast("bigint")
        .alias("delta_seconds"),
    )


RUNNING_PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_purchases", LongType()),
        StructField("spend_cents", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)

# Arrow-simple state tuple; timestamps stored as int µs so the state
# codec never depends on pandas datetime unit conventions.
_PROFILE_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("n_purchases", LongType()),
        StructField("spend_cents", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)


def running_user_profile(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running profile (event count, purchase count, cumulative
    spend, last event time) carried in GroupState across micro-batches
    — the reference's "realtime counters" (ST2 path,
    `src/pipelines/feature_pipeline.py:245-249`) as an idiomatic
    arbitrary-stateful-streaming operator rather than an external KV.

    Each micro-batch emits the updated profile row for every user seen
    in that batch (output mode ``update``); the latest row per user is
    the live feature value. Spend accumulates in integer cents so the
    running total is associative — stream-order and batch-replay sums
    agree exactly (no float drift).

    Scale posture: state is one fixed-width tuple per user, hash
    partitioned by the grouping key across executors; a real
    deployment adds a timeout (``GroupStateTimeout``) to expire
    dormant keys."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupStateTimeout

    def _update(key, pdfs, state):
        if state.exists:
            n_events, n_purch, cents, last_us = state.get
        else:
            n_events = n_purch = cents = 0
            last_us = None
        for pdf in pdfs:
            n_events += len(pdf)
            is_p = pdf["event_type"] == "purchase"
            n_purch += int(is_p.sum())
            # floor(+0.5) = HALF_UP for non-negative amounts, matching
            # F.round in every batch/streaming twin and round() in the
            # DuckDB oracles; Python round() is banker's (half-to-even)
            # and diverges on exact .5 cent fractions
            cents += int(
                pdf.loc[is_p, "value"].fillna(0.0).map(
                    lambda v: int(math.floor(v * 100 + 0.5))
                ).sum()
            )
            # guard NaT: a batch whose rows all carry NULL ts (the
            # schema allows it; dispatch validity doesn't check ts)
            # must not poison last_us with int64-min / overflow
            # pd.to_datetime below
            ts_max = pdf["ts"].max()
            if pd.notna(ts_max):
                batch_max_us = int(pd.Timestamp(ts_max).value // 1000)
                last_us = (
                    batch_max_us
                    if last_us is None
                    else max(last_us, batch_max_us)
                )
        state.update((n_events, n_purch, cents, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_events],
                "n_purchases": [n_purch],
                "spend_cents": [cents],
                "last_ts": [pd.to_datetime(last_us, unit="us")],
            }
        )

    return (
        events.select("user_id", "event_type", "value", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            RUNNING_PROFILE_SCHEMA,
            _PROFILE_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def _drain(stream: DataFrame, checkpoint_dir: str, body) -> int:
    """The one availableNow scaffold: drain ``stream`` through
    ``foreachBatch(body)`` under the checkpoint at ``checkpoint_dir``
    and stop. Returns the executed-batch count, tallied in the
    foreachBatch wrapper — ``len(q.recentProgress)`` is capped by
    spark.sql.streaming.numRecentProgressUpdates (100) and would
    under-report a long backlog; a retry re-counts, which matches the
    body actually re-running (an informational counter; every body
    here is replay-convergent)."""
    executed: list[int] = []

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        executed.append(batch_id)
        body(batch_df, batch_id)

    (
        stream.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return len(executed)


def _valid_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """The ST4/ST13 sinks' stream: read → dispatch → filter(valid)."""
    return dispatch_events(read_event_stream(spark, events_dir)).filter(
        F.col("valid")
    )


def _latest_purchase_scores(batch_df: DataFrame, with_date: bool) -> DataFrame:
    """The purchase rows of a micro-batch projected for the streaming
    upsert sinks, keyed by user (ST4) or by (user, event-date) (ST13),
    carrying ``__seq = struct(ts, event_id)`` — a UNIQUE total order,
    so ties resolve identically whether two equal-ts purchases land in
    one micro-batch or are split across batches/replays (order-by-ts
    alone would let cross-batch ties fall to arrival order, diverging
    from the batch twin). No per-batch dedupe: the sinks' keyed merge
    (``txn._merge_rows``) already keeps the newest ``__seq`` per key
    over the stored rows and the batch together."""
    return batch_df.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("risk_score"),
        *([F.to_date("ts").alias("event_date")] if with_date else []),
        F.struct("ts", "event_id").alias("__seq"),
    )


def run_streaming_upsert_manifest(
    spark: SparkSession,
    events_dir: str,
    table_root: str,
    checkpoint_dir: str,
) -> dict[str, int]:
    """ST4 end-to-end streaming job, drained deterministically with
    ``availableNow``: read → dispatch → per-user latest risk score
    upserted into the manifest table at ``table_root``. The
    foreachBatch body projects each micro-batch's purchases and lands
    them via ``txn.upsert_manifest``, whose keyed merge keeps the
    newest ``__seq`` per user over the stored rows and the batch in
    one shuffle (a separate per-batch reduction first would cost a
    second) — an atomic manifest commit per batch, so
    a concurrent batch writer (or a second stream against the same
    table) cannot lose updates, readers are snapshot-isolated while
    batches land, and a crash mid-batch leaves the previous commit
    readable. The merge orders on ``__seq = struct(ts, event_id)``, a
    unique total order (see ``_latest_purchase_scores``). Replay
    safety is layered: the checkpoint makes batches at-least-once, and
    the merge's update-wins-on-tie last-writer semantics make a
    replayed batch converge to the same snapshot (one extra version,
    same rows). Returns {batches, upserted_users, versions}, read from
    the executed-batch tally and the tip manifest — never from
    in-memory increments a batch retry would double-count."""
    from feature_store_spark.pipelines.txn import (
        latest_version,
        read_manifest,
        upsert_manifest,
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_purchase_scores(batch_df, with_date=False)
        upsert_manifest(latest, table_root, ["user_id"], "__seq")

    batches = _drain(
        _valid_events(spark, events_dir), checkpoint_dir, _merge_batch
    )
    # the tip manifest records its live row count: no count job
    v = latest_version(table_root)
    return {
        "batches": batches,
        "upserted_users": read_manifest(table_root, v)["rows"] if v else 0,
        "versions": v,
    }


def run_streaming_warehouse_append(
    spark: SparkSession,
    events_dir: str,
    table_root: str,
    checkpoint_dir: str,
) -> dict[str, int]:
    """ST13: streaming appends into a DATE-PARTITIONED transactional
    table — each micro-batch's purchases land via
    ``txn.upsert_manifest_partitioned``, whose merge keeps the latest
    purchase per (user, event-date) over the touched dates' stored rows
    and the batch together, so a batch's commit
    touches only the dates it carries (O(batch) commit cost — the
    partition-scoped posture the daily warehouse uses), is atomic
    against concurrent batch/backfill writers, and leaves readers
    snapshot-isolated. Replay-convergent like ST4: a replayed batch
    recomputes the same per-key rows and the keyed merge lands them as
    one extra version with identical contents. Each commit records
    user_id data-skipping stats + bloom on its touched date leaves, so
    the continuously-ingested table serves pruned point lookups
    (``read_table(where=...)``) exactly like the daily warehouse
    export. Returns {batches, rows, versions, partitions}."""
    from feature_store_spark.pipelines.txn import (
        latest_version,
        read_manifest,
        resolve_partitions,
        upsert_manifest_partitioned,
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = _latest_purchase_scores(batch_df, with_date=True)
        upsert_manifest_partitioned(
            latest,
            table_root,
            ["user_id"],
            "__seq",
            partition_col="event_date",
            stats_cols=["user_id"],
            bloom_cols=["user_id"],
        )

    batches = _drain(
        _valid_events(spark, events_dir), checkpoint_dir, _merge_batch
    )
    v = latest_version(table_root)
    return {
        "batches": batches,
        "rows": read_manifest(table_root, v)["rows"] if v else 0,
        "versions": v,
        "partitions": len(resolve_partitions(table_root, v)) if v else 0,
    }


def run_drift_monitor(
    spark: SparkSession,
    events_dir: str,
    baseline: DataFrame,
    report_dir: str,
    checkpoint_dir: str,
    value_col: str = "value",
    max_files_per_trigger: int | None = None,
) -> dict[str, int]:
    """ST10: streaming data-quality drift monitor — every micro-batch's
    value distribution is PSI-compared against a static baseline
    snapshot (`operators/diff.py::value_drift_report`) and one summary
    row per batch is appended to a parquet report: (batch_id, n_values,
    psi, drifted). The streaming twin of the a21 batch check, and the
    continuous version of the reference's scheduled data-quality DAG
    (`dags/data_quality_dag.py`: every-4h anomaly sweep → per-batch).

    foreachBatch composes the BATCH operator unchanged — the PSI
    report reduces each micro-batch to bucket-count rows before any
    join, so per-batch cost is one map-combined groupBy over the
    batch plus window math over dozens of rows. The baseline's bucket
    counts are recomputed per batch here for simplicity; a deployment
    caches them (they are a handful of rows) or reads stored a19
    sketch partials.

    Idempotence: foreachBatch is at-least-once, so a checkpoint-replayed
    micro-batch re-runs ``_check_batch`` with the SAME batch_id. The
    report row therefore lands via dynamic partition overwrite into its
    ``batch_id=`` partition (replay rewrites the partition, never
    double-appends), and the returned counters are derived from the
    materialized report — not from in-memory increments a replay would
    double-count.

    Drained deterministically with ``availableNow``; returns
    {batches, drifted_batches} over the whole report_dir. Note for
    report readers: ``batch_id`` is the PARTITION column of the
    report layout (directory-encoded; partition-type inference reads
    it back as int), unlike the pre-round-3 append layout that stored
    it as a bigint data column.
    """
    from feature_store_spark.operators.diff import value_drift_report

    def _check_batch(batch_df: DataFrame, batch_id: int) -> None:
        report = value_drift_report(baseline, batch_df, value_col)
        summary = report.agg(
            F.sum("n_new").cast("bigint").alias("n_values"),
            F.first("psi_total").alias("psi"),
            F.first("drifted").alias("drifted"),
        ).withColumn("batch_id", F.lit(batch_id).cast("bigint"))
        (
            summary.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(report_dir)
        )

    _drain(
        read_event_stream(
            spark, events_dir, max_files_per_trigger=max_files_per_trigger
        ),
        checkpoint_dir,
        _check_batch,
    )
    from feature_store_spark.pipelines.txn import _error_is

    # a missing report means zero micro-batches fired -> "no drift
    # observed"; an unreadable EXISTING report propagates — this
    # component's whole job is alerting
    try:
        report = spark.read.parquet(report_dir)
    except AnalysisException as e:
        if not _error_is(e, "PATH_NOT_FOUND"):
            raise
        return {"batches": 0, "drifted_batches": 0}
    return {
        "batches": int(report.count()),
        "drifted_batches": int(report.filter(F.col("drifted")).count()),
    }


def run_streaming_cdc(
    spark: SparkSession,
    changes_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    schema,
    seq_col: str = "seq",
    op_col: str = "op",
    max_files_per_trigger: int | None = None,
) -> dict[str, int]:
    """ST11: continuous CDC apply — a parquet change-log stream
    (Debezium-shaped rows: payload + ``seq`` + ``op`` in I/U/D) folded
    into a keyed snapshot, the manifest table at ``state_dir``,
    drained with ``availableNow``.

    The state table keeps DELETE TOMBSTONES (``__deleted`` rows with
    their winning ``__seq``) rather than physically dropping keys:
    cross-micro-batch ordering then comes from the seq-ordered
    ``txn.upsert_manifest`` merge, NOT from arrival order — a late
    update (seq 3) arriving a batch after its key's delete (seq 5)
    correctly loses to the tombstone, the case every last-batch-wins
    sink gets wrong. Batch-internal ordering is the same latest-wins
    window the batch operator uses (`operators/cdc.py::latest_changes`),
    so stream output == one-shot ``apply_cdc`` over the full feed no
    matter how the files split into micro-batches. Replay-idempotent:
    a checkpoint-retried batch re-merges identical (key, seq) rows —
    the upsert's update-wins tie-break rewrites the same values.

    Serve the snapshot through :func:`read_cdc_snapshot` (filters
    tombstones, drops meta). Compact tombstones out once every
    downstream consumer has passed their seq — a retention policy,
    not this function's job.

    Returns {batches, live_keys, tombstones}, counted from the
    committed table (never from in-memory increments — the
    at-least-once rule).
    """
    from feature_store_spark.operators.cdc import latest_changes
    from feature_store_spark.pipelines.txn import read_table, upsert_manifest

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = latest_changes(batch_df, key_cols, seq_col, op_col)
        rows = latest.select(
            *[c for c in latest.columns if c != "__op"],
            (F.col("__op") == "D").alias("__deleted"),
        )
        upsert_manifest(rows, state_dir, key_cols, "__seq")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    batches = _drain(reader.parquet(changes_dir), checkpoint_dir, _merge_batch)
    store, _ = read_table(spark, state_dir)
    if store is None:
        return {"batches": batches, "live_keys": 0, "tombstones": 0}
    return {
        "batches": batches,
        "live_keys": int(store.filter(~F.col("__deleted")).count()),
        "tombstones": int(store.filter(F.col("__deleted")).count()),
    }


def read_cdc_snapshot(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live snapshot a CDC state table serves: tombstones
    filtered, merge metadata dropped."""
    from feature_store_spark.pipelines.txn import read_table

    store, _ = read_table(spark, state_dir)
    if store is None:
        raise FileNotFoundError(f"no CDC state at {state_dir}")
    return store.filter(~F.col("__deleted")).drop("__seq", "__deleted")
