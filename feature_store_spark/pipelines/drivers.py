"""Pipeline drivers (SURVEY.md §2.10): the daily batch run (SV6), the
data-quality report, and the migration validation suite — thin
orchestration over the operator library, replacing the reference's
Airflow DAGs (`dags/*.py`) with plain functions a scheduler calls.
Every store they write is a manifest table (``pipelines/txn.py``).

Every driver takes explicit anchors (ref_date / now) — no wall clock
in any computation path (SURVEY §7.1 determinism rule).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feature_store_spark.operators.aggregates import (
    completeness_report,
    freshness_report,
    stats_with_outliers,
)
from feature_store_spark.pipelines.features import (
    derive_risk_features,
    derive_transaction_features,
    derive_user_features,
)
from feature_store_spark.pipelines import txn
from feature_store_spark.pipelines.sinks import export_warehouse
from feature_store_spark.session import run_concurrently
from feature_store_spark.tables import EVENTS_NOW, REF_DATE, load_table


@dataclass
class PipelineResult:
    status: str  # SUCCESS / PARTIAL / FAILED (reference
    # `sql/migration_queries.sql:222-226` status bucketing)
    counts: dict[str, int]
    details: dict[str, Any]


def run_daily_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ref_date: str = REF_DATE,
    transactional: bool = True,
    vacuum_keep_last: int | None = None,
) -> PipelineResult:
    """Daily batch feature derivation (reference
    `src/pipelines/batch_pipeline.py:63-125`): derive user →
    transaction → risk features, upsert each into its manifest table
    under ``out_dir`` (``txn.upsert_manifest``: atomic last-writer-wins
    commits, safe when two schedulers race a repair run against the
    daily run), export the serving join to the warehouse layout.

    The three feature groups are independent: each derives, caches
    and commits to its own table on its own driver thread
    (``session.run_concurrently``), so their per-job launch and
    collect floors overlap instead of adding up. The commit's one
    write fills the cache and counts the derived rows on an
    Observation — no separate count pass. The derivations
    share the orders/lineitem scans only through the parquet cache —
    at 100 TB each group is an independent job and the offline store
    is the hand-off point (materialized view role, SURVEY §4). Each
    table commit is still atomic on its own; a failing group raises
    only after the other groups have settled, so a group that
    succeeded stays committed and the export never runs. A re-run
    converges: its upserts are last-writer-wins under the same
    ``updated_at`` stamp, and the export replaces its date.

    Semantics pinned by round-3 review: ``counts`` are THIS RUN'S
    derived row counts (a zero-row derivation day is a visible
    failure, not masked by the non-empty merged store — store sizes
    ride in ``details``), and the warehouse snapshot for ``ref_date``
    is built from THIS RUN'S frames, not the merged store: the store
    keeps only last-writer rows, so a repair re-run of an OLDER date
    could never regenerate that date's partition from it. The frames
    are cached across upsert + export, so each derivation computes
    once.

    ``vacuum_keep_last`` prunes each table's history to that many
    versions after the run. ``transactional`` only accepts ``True``:
    manifest tables are the one store format, and a plain parquet
    store from before that is moved with ``txn.migrate_to_manifest``.
    The keyword stays for callers that still pass it and goes with the
    next benchmark revision.
    """
    if not transactional:
        raise ValueError(
            "run_daily_pipeline writes manifest tables only; move a "
            "plain parquet store over with txn.migrate_to_manifest"
        )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    stamp = F.to_timestamp(F.lit(f"{ref_date} 00:00:00"))
    groups = {
        "user_features": lambda: derive_user_features(
            customer, orders, ref_date=ref_date
        ),
        "transaction_features": lambda: derive_transaction_features(
            orders, lineitem, ref_date=ref_date
        ),
        "risk_features": lambda: derive_risk_features(
            customer, orders, lineitem, events, ref_date=ref_date
        ),
    }

    cached: list[DataFrame] = []

    def land(kind, derive):
        df = derive().withColumn("updated_at", stamp).cache()
        cached.append(df)
        # read after the commit: Observation.get blocks until a plan
        # carrying it has run
        derived = Observation()
        stored = txn.upsert_manifest(
            df.observe(derived, F.count(F.lit(1)).alias("rows")),
            f"{out_dir}/{kind}", ["user_id"], "updated_at",
        )
        return df, int(derived.get["rows"]), stored

    try:
        (uf, tf, rf), n_rows, n_stored = zip(*run_concurrently(
            *(partial(land, kind, derive) for kind, derive in groups.items())
        ))
        counts = dict(zip(groups, n_rows))
        store_counts = dict(zip(groups, n_stored))
        serving = uf.join(
            tf.drop("updated_at"), "user_id", "left"
        ).join(rf.drop("updated_at"), "user_id", "left")
        # the warehouse history gets the PARTITION-SCOPED commit: each
        # daily run touches one date, untouched history carries forward
        counts["warehouse_rows"] = export_warehouse(
            serving,
            f"{out_dir}/warehouse/serving_features",
            date_col="updated_at",
            cluster_col="user_id",
            ref_date=ref_date,
        )
    finally:
        for frame in cached:
            frame.unpersist()
    if vacuum_keep_last is not None:
        # retention: a daily run accretes one version per table per
        # day forever without it; keep_last versions stay
        # time-travelable, older data dirs are reclaimed (safe against
        # the concurrent-writer races txn.vacuum documents)
        for kind in (
            "user_features",
            "transaction_features",
            "risk_features",
            "warehouse/serving_features",
        ):
            txn.vacuum(f"{out_dir}/{kind}", keep_last=vacuum_keep_last)
    status = (
        "SUCCESS"
        if all(v > 0 for v in counts.values())
        else ("PARTIAL" if any(v > 0 for v in counts.values()) else "FAILED")
    )
    return PipelineResult(
        status, counts, {"ref_date": ref_date, "store_counts": store_counts}
    )


def run_backfill(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    ref_dates: list[str],
) -> list[PipelineResult]:
    """Historical backfill: run the daily pipeline once per date, in
    order (the reference's Airflow catchup over `batch_pipeline_dag`).
    Each run anchors every time window at ITS ref_date (forwarded into
    the derivations) and lands one dated snapshot in the warehouse —
    a partition-scoped manifest commit replaces only that date's
    partition, so backfills are idempotent per date, never clobber
    neighboring snapshots, and are safe against a backfill racing the
    daily run. The resulting snapshot history is exactly what
    `serving/training.py::build_training_set` as-of joins against."""
    return [
        run_daily_pipeline(spark, sf_dir, out_dir, ref_date=d)
        for d in ref_dates
    ]


# Data-quality thresholds (reference `src/pipelines/data_quality.py:44-48,306`)
FRESHNESS_MAX_HOURS = 2
COMPLETENESS_MIN = 0.95
OUTLIER_FLAG_RATIO = 0.05


def run_quality_report(
    spark: SparkSession,
    sf_dir: str,
    now: str = EVENTS_NOW,
) -> dict[str, Any]:
    """Data-quality sweep (reference `src/pipelines/data_quality.py`):
    freshness (events vs injected now), completeness per column,
    3σ anomaly profile, and threshold alerts — the three scans are
    independent, so they collect concurrently
    (``session.run_concurrently``); results are assembled driver-side
    (scalar outputs only)."""
    events = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")

    fresh, comp_rows, stats = run_concurrently(
        lambda: freshness_report(
            events, "ts", now, FRESHNESS_MAX_HOURS
        ).collect()[0],
        lambda: completeness_report(
            docs, ["text", "lang", "source", "n_chars"], "documents"
        ).collect(),
        lambda: stats_with_outliers(orders, "o_totalprice").collect()[0],
    )

    completeness = {
        r["column_name"]: r["completeness_ratio"] for r in comp_rows
    }
    outlier_ratio = (
        stats["outlier_count"] / stats["count_value"]
        if stats["count_value"]
        else 0.0
    )
    alerts = []
    if fresh["fresh_ratio"] is None or fresh["fresh_ratio"] == 0:
        alerts.append("freshness: no rows within window")
    for col, ratio in completeness.items():
        # ratio is None on an empty table — that's an alert (nothing
        # to measure), not a crash
        if ratio is None or ratio < COMPLETENESS_MIN:
            alerts.append(f"completeness below {COMPLETENESS_MIN}: {col}")
    if outlier_ratio > OUTLIER_FLAG_RATIO:
        alerts.append("anomaly: outlier ratio above threshold")
    return {
        "freshness": fresh.asDict(),
        "completeness": completeness,
        "anomaly": {
            "mean": stats["mean_value"],
            "stddev": stats["stddev_value"],
            "outlier_count": stats["outlier_count"],
            "outlier_ratio": outlier_ratio,
        },
        "alerts": alerts,
        "passed": not alerts,
    }


def run_migration_validation(
    spark: SparkSession,
    source: DataFrame,
    target: DataFrame,
    key_cols: list[str],
) -> dict[str, Any]:
    """Migration validation suite (reference
    `src/pipelines/migration.py:480-525`, `sql/migration_queries.sql`):
    count reconciliation, duplicate keys on the target, orphans
    (anti-join both directions). All keyed aggregates/joins — no
    collect of row data, only scalar verdicts."""
    src_n = source.count()
    tgt_n = target.count()
    dup_keys = (
        target.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    missing = source.join(target, key_cols, "left_anti").count()
    extra = target.join(source, key_cols, "left_anti").count()
    ok = src_n == tgt_n and dup_keys == 0 and missing == 0 and extra == 0
    return {
        "source_count": src_n,
        "target_count": tgt_n,
        "counts_match": src_n == tgt_n,
        "duplicate_keys": dup_keys,
        "missing_in_target": missing,
        "orphaned_in_target": extra,
        "status": "SUCCESS" if ok else "FAILED",
    }


def run_table_maintenance(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 4,
    keep_last: int = 3,
    orphan_grace_seconds: float | None = None,
    zorder_cols: list[str] | None = None,
    retain_hours: float | None = None,
    purge_dv_above: int | None = None,
) -> dict[str, Any]:
    """One-call housekeeping for a manifest table — the nightly
    OPTIMIZE + VACUUM job every lake deployment schedules (the
    reference delegates the equivalent to Postgres autovacuum +
    BigQuery partition expiration; a lake layout must run it
    explicitly). Order matters: compact FIRST (publishes a new tip
    whose tidy leaves the retention window then protects), vacuum
    SECOND (reclaims the superseded small-file leaves and pruned
    history in the same pass). ``min_files`` keeps the compaction
    incremental — only leaves the streaming/daily sinks actually
    fragmented get rewritten, so repeated maintenance runs are
    near-no-ops on a quiet table. ``zorder_cols`` makes the compaction
    an OPTIMIZE ZORDER (txn.compact_manifest) so the nightly job also
    keeps row-group clustering tight. ``purge_dv_above`` adds the
    deletion-vector closer: when the table's soft-deleted-row debt
    (engine_metrics ``dv_deleted_rows``) exceeds the threshold, the
    DV'd leaves are rewritten first (txn.purge_deletes — REORG APPLY
    PURGE), so compact + vacuum then reclaim the sidecars and
    superseded leaves in the same nightly pass. Returns the combined
    report."""
    from feature_store_spark.pipelines.txn import (
        compact_manifest,
        engine_metrics,
        purge_deletes,
        vacuum,
    )

    purged = False
    if purge_dv_above is not None:
        # deletion-vector debt check is metadata-only (one gauge read);
        # purge rewrites ONLY the DV'd leaves, then the compact below
        # sees clean entries
        debt = {
            r["metric"]: r["value"]
            for r in engine_metrics(spark, {"t": root}).collect()
        }.get("dv_deleted_rows", 0.0)
        if debt > purge_dv_above:
            purged = purge_deletes(
                spark, root, target_file_bytes=target_file_bytes
            )["committed"]
    stats = compact_manifest(
        spark,
        root,
        target_file_bytes=target_file_bytes,
        min_files=min_files,
        zorder_cols=zorder_cols,
    )
    removed = vacuum(
        root,
        keep_last=keep_last,
        orphan_grace_seconds=orphan_grace_seconds,
        retain_hours=retain_hours,
    )
    # stats["version"] (not a fresh latest_version lookup): a
    # concurrent writer landing between compact and here must not be
    # attributed to this maintenance run, and the commit flag comes
    # from the compaction itself — a rewrite can legitimately produce
    # >= the original file count (600 MB of 4 files at a 128 MB
    # target), so file-count comparison is not commit detection
    return {
        "compacted": stats["committed"],
        "dv_purged": purged,
        "files_before": stats["files_before"],
        "files_after": stats["files_after"],
        "data_dirs_reclaimed": len(removed),
        "version": stats["version"],
        "rows": stats["rows"],
    }


def sync_rollup_from_changes(
    spark: SparkSession,
    src_root: str,
    rollup_root: str,
    checkpoint_dir: str,
    key_col: str,
    group_col: str,
    value_col: str,
) -> dict:
    """Incremental view maintenance driven by the table's own change
    feed: keep a per-``group_col`` rollup (row count + exact integral
    sum of ``value_col``) of the manifest table at ``src_root``
    synchronized through the streaming CDC source
    (`txn.read_changes_stream`, whose batches carry pre/post images)
    and MERGE INTO — the composition the round's table-format verbs
    exist for.

    Each commit batch folds to per-group DELTAS driver-free:
    added rows contribute (+1, +value_new), removed rows
    (−1, −value_old), changed rows (0, value_new − value_old) — then
    ONE merge applies them: matched groups whose count reaches zero
    are deleted, matched groups accumulate, unmatched groups insert.
    Cost per commit is O(that commit's changes) + O(touched rollup
    partitions); the source is never re-scanned. ``value_col`` must be
    integral (exact deltas — float sums would drift under fold order).

    Exactly-once under crash-redelivery: every rollup commit records
    the applied SOURCE version as a transactional watermark
    (``txn=(app_id, src_version)`` — the Delta ``txnAppId`` pattern),
    so a crash between the rollup commit and the CDC cursor advance
    is safe: the redelivered batch sees its version at/below the
    watermark and is skipped instead of re-adding the same deltas
    (which would double counts/sums — they are additive, not
    idempotent). The bootstrap commit records the watermark too, so a
    redelivered initial snapshot cannot re-apply through the merge
    path. ``group_col`` values must be non-NULL (a NULL merge key
    never matches, per SQL join semantics). Returns {batches,
    from_version, to_version}."""
    import os as _os
    from feature_store_spark.pipelines.txn import (
        latest_version,
        merge_into,
        read_changes_stream,
        upsert_manifest,
    )

    # watermark identity: one logical syncer per source table (the
    # single-writer contract the rollup already requires)
    app_id = f"sync_rollup:{_os.path.abspath(src_root)}"

    def apply_batch(changes: DataFrame, version: int) -> None:
        vo = F.coalesce(F.col(f"{value_col}_old"), F.lit(0)).cast("bigint")
        vn = F.coalesce(F.col(f"{value_col}_new"), F.lit(0)).cast("bigint")
        st = F.col("status")
        go = F.col(f"{group_col}_old")
        gn = F.col(f"{group_col}_new")
        # a changed row may MOVE groups: emit it as a removal from its
        # old group and an addition to its new one (two legs); rows
        # that stay put fold to one (0, Δvalue) leg in their group
        legs = changes.select(
            F.explode(
                F.when(
                    (st == "changed") & ~go.eqNullSafe(gn),
                    F.array(
                        F.struct(
                            go.alias("g"),
                            F.lit(-1).alias("dn"),
                            (-vo).alias("dv"),
                        ),
                        F.struct(
                            gn.alias("g"),
                            F.lit(1).alias("dn"),
                            vn.alias("dv"),
                        ),
                    ),
                )
                .when(
                    st == "added",
                    F.array(
                        F.struct(
                            gn.alias("g"),
                            F.lit(1).alias("dn"),
                            vn.alias("dv"),
                        )
                    ),
                )
                .when(
                    st == "removed",
                    F.array(
                        F.struct(
                            go.alias("g"),
                            F.lit(-1).alias("dn"),
                            (-vo).alias("dv"),
                        )
                    ),
                )
                .otherwise(
                    F.array(
                        F.struct(
                            gn.alias("g"),
                            F.lit(0).alias("dn"),
                            (vn - vo).alias("dv"),
                        )
                    )
                )
            ).alias("__leg")
        ).select("__leg.g", "__leg.dn", "__leg.dv")
        deltas = (
            legs.groupBy(F.col("g").alias(group_col))
            .agg(
                F.sum("dn").cast("bigint").alias("dn"),
                F.sum("dv").cast("bigint").alias("dv"),
            )
            .filter((F.col("dn") != 0) | (F.col("dv") != 0))
        )
        if latest_version(rollup_root) == 0:
            # bootstrap: the first batch (the initial snapshot) seeds
            # the rollup table directly
            upsert_manifest(
                deltas.select(
                    group_col,
                    F.col("dn").alias("n_rows"),
                    F.col("dv").alias("sum_value"),
                ).withColumn("__ord", F.lit(version)),
                rollup_root,
                [group_col],
                "__ord",
                txn=(app_id, version),
            )
            return
        merge_into(
            spark,
            rollup_root,
            deltas,
            [group_col],
            when_matched=[
                ("t.n_rows + s.dn = 0", "delete"),
                (None, {
                    "n_rows": "t.n_rows + s.dn",
                    "sum_value": "t.sum_value + s.dv",
                }),
            ],
            when_not_matched=(None, {
                group_col: f"s.{group_col}",
                "n_rows": "s.dn",
                "sum_value": "s.dv",
                "__ord": str(version),
            }),
            txn=(app_id, version),
        )

    return read_changes_stream(
        spark,
        src_root,
        checkpoint_dir,
        apply_batch,
        key_cols=[key_col],
        compare_cols=[group_col, value_col],
    )
