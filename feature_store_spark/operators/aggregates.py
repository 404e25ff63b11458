"""Aggregation operators (SURVEY.md §2.4).

All operators are single-pass ``groupBy().agg(...)`` where possible
(map-side partial aggregation, one shuffle on the group key); the only
two-pass operator is 3σ outlier counting, which needs global stats
before re-scanning — expressed as a tiny aggregate broadcast-joined
back onto the fact table, so at 100 TB the second pass is a scan +
broadcast, never a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_store_spark.session import local_frame


def mode_deterministic(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    alias: str,
) -> DataFrame:
    """Most frequent value per key, NULLs ignored, ties broken by the
    smallest value — deterministic across engines (reference ``MODE()
    WITHIN GROUP``, `sql/user_features.sql:11`; Spark ``F.mode`` has
    unspecified tie-breaking, so we pin it with a window).

    Two shuffles on (key, value) then (key): both partial-aggregated,
    and the second operates on already-reduced data (≤ distinct value
    count per key). The argmax is ``min_by`` over ``struct(-count,
    value)`` — struct ordering gives (highest count, then smallest
    value) in one aggregate, avoiding the per-key sort a row_number
    window would add.
    """
    counted = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return counted.groupBy(*key_cols).agg(
        F.min_by(
            value_col, F.struct((-F.col("__cnt")).alias("n"), value_col)
        ).alias(alias)
    )


def stats_with_outliers(
    df: DataFrame, value_col: str, sigma: float = 3.0, scale: int = 100
) -> DataFrame:
    """Statistical profile + 3σ outlier count for one numeric column
    (reference `src/pipelines/data_quality.py:273-307`).

    Returns a 1-row DataFrame: mean_value, stddev_value (sample),
    min_value, max_value, count_value, outlier_count.

    Mean/stddev are derived from EXACT integer moments (values scaled
    to integers at ``scale``, first moment as bigint, second as
    decimal(38,0)) so the result is independent of partitioned
    summation order — bit-identical across engines and cluster sizes.
    The stats row is crossJoin-broadcast back for the outlier pass —
    scan-twice, shuffle-never, so it holds at 100 TB.
    """
    v = F.col(value_col)
    s = float(scale)
    iv = F.round(v * s).cast("bigint")
    iv_dec = F.round(v * s).cast("decimal(38,0)")
    base = df.agg(
        F.count(v).alias("count_value"),
        F.sum(iv).cast("double").alias("__s1"),
        F.sum(iv_dec * iv_dec).cast("double").alias("__s2"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
    )
    n = F.col("count_value")
    s1 = F.col("__s1")
    s2 = F.col("__s2")
    stats = base.select(
        # ANSI guards: n==0 (mean) and n==1 (sample stddev) yield NULL
        # like DuckDB's 0/0 — a bare division RAISES DIVIDE_BY_ZERO
        # under Spark 4's default ANSI mode
        F.when(n > 0, s1 / s / n).alias("mean_value"),
        F.when(
            n > 1,
            F.sqrt(
                (s2 / (s * s) - (s1 / s) * (s1 / s) / n) / (n - F.lit(1))
            ),
        ).alias("stddev_value"),
        "min_value",
        "max_value",
        "count_value",
    )
    joined = df.select(v.alias("__v")).crossJoin(F.broadcast(stats))
    lo = F.col("mean_value") - sigma * F.col("stddev_value")
    hi = F.col("mean_value") + sigma * F.col("stddev_value")
    # the stats columns ride the same aggregate as the outlier count
    # (first() of broadcast-constant values) — referencing `stats`
    # again in a final crossJoin would re-evaluate its aggregate
    # subtree, i.e. a third full scan of df
    return joined.agg(
        F.first("mean_value").alias("mean_value"),
        F.first("stddev_value").alias("stddev_value"),
        F.first("min_value").alias("min_value"),
        F.first("max_value").alias("max_value"),
        # empty input: `joined` has zero rows, so first() yields NULL —
        # but COUNT of nothing is 0, both here and in the a7 oracle
        F.coalesce(F.first("count_value"), F.lit(0).cast("bigint")).alias(
            "count_value"
        ),
        F.count(F.when((F.col("__v") < lo) | (F.col("__v") > hi), 1)).alias(
            "outlier_count"
        ),
    )


def completeness_report(
    df: DataFrame, columns: Sequence[str], table_name: str
) -> DataFrame:
    """Per-column non-null ratio, one labeled row per column
    (reference `src/pipelines/data_quality.py:208-244` and the
    ``feature_completeness`` view, `sql/bigquery_schema.sql:97-133`).

    Single aggregate pass computing every per-column count at once,
    then an unpivot of the 1-row result — no per-column scans.
    """
    if not columns:
        raise ValueError("completeness_report needs at least one column")
    aggs = [F.count(F.lit(1)).alias("__total")] + [
        F.count(F.col(c)).alias(f"__nn_{c}") for c in columns
    ]
    row = df.agg(*aggs)
    # backtick-quote generated identifiers and escape label quotes so
    # column names with spaces/quotes survive the SQL round-trip
    stack_expr = ", ".join(
        "'{}', `__nn_{}`".format(
            c.replace("'", "''"), c.replace("`", "``")
        )
        for c in columns
    )
    return row.selectExpr(
        "__total",
        f"stack({len(columns)}, {stack_expr}) as (column_name, non_null_count)",
    ).select(
        F.lit(table_name).alias("table_name"),
        "column_name",
        F.col("__total").cast("bigint").alias("total_rows"),
        F.col("non_null_count").cast("bigint").alias("non_null_count"),
        # empty table -> NULL ratio (DuckDB 0/0 semantics), not an
        # ANSI DIVIDE_BY_ZERO abort of the quality driver
        F.when(
            F.col("__total") > 0,
            F.col("non_null_count") / F.col("__total"),
        ).alias("completeness_ratio"),
    )


def freshness_report(
    df: DataFrame, ts_col: str, now: str, fresh_hours: int = 2
) -> DataFrame:
    """max(ts), total count, fresh count within ``fresh_hours`` of the
    injected ``now``, fresh ratio (reference
    `src/pipelines/data_quality.py:140-170`; deterministic ``now`` per
    SURVEY.md §7.1)."""
    ts = F.col(ts_col)
    threshold = F.to_timestamp(F.lit(now)) - F.expr(
        f"INTERVAL {fresh_hours} HOURS"
    )
    return df.agg(
        F.max(ts).alias("max_ts"),
        F.count(F.lit(1)).alias("total_rows"),
        F.count(F.when(ts >= threshold, 1)).alias("fresh_rows"),
    ).select(
        "max_ts",
        "total_rows",
        "fresh_rows",
        F.when(
            F.col("total_rows") > 0,
            F.col("fresh_rows") / F.col("total_rows"),
        ).alias("fresh_ratio"),
    )


def decayed_aggregate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    now: str,
    half_life_days: int = 7,
    horizon: int = 30,
) -> DataFrame:
    """Exponentially time-decayed per-key aggregates — the classic
    recency-weighted feature (decayed event count / decayed spend)
    with half-life ``half_life_days``, anchored at the injectable
    ``now`` (F8 discipline; extends the reference's fixed 7d/30d
    trailing windows, `sql/feature_queries.sql`, to a continuous
    decay).

    Exactness across engines: ages quantize to whole half-lives
    ``d = floor(days/half_life)``, so every weight is a power of two
    ``2^-d`` and the decayed sum is computed in FIXED POINT — cents
    scaled by ``2^(horizon-d)`` as BIGINT, summed exactly (order-free,
    unlike any float sum; libm-free, unlike exp()). Rows older than
    ``horizon`` half-lives weigh 0 (< 1e-9 — below fixed-point
    resolution; ALSO the partition-pruning predicate a date-partitioned
    store needs anyway). The readable double is derived by ONE exact
    bigint→double conversion and ONE exact power-of-two division per
    key. Overflow posture: each row's |value·100| must stay within
    2^(62−horizon) — checked on the pre-cast double so an extreme
    value raises a targeted error naming the value and the ``horizon``
    knob (not an opaque ANSI CAST_OVERFLOW); the per-key sums then
    accumulate in DECIMAL(38,0) (matching DuckDB's HUGEINT bigint-sum
    semantics), so no per-key row count can overflow the aggregate.

    Scale shape: narrow projection + single map-combined groupBy on
    the key — one shuffle of (key, 2×bigint), no window, no join.
    """
    days = F.datediff(F.lit(now).cast("date"), F.col(ts_col).cast("date"))
    d = F.floor(days / F.lit(half_life_days)).cast("int")
    # Per-row fixed-point guard, checked on the DOUBLE before any
    # bigint cast (a value like 1e18 would otherwise die in the
    # round().cast("bigint") projection as an opaque ANSI CAST_OVERFLOW
    # before a post-cast guard could fire). The per-key SUMS accumulate
    # in DECIMAL(38,0) below, so no row count can overflow them; the
    # guard's job is to keep each row's |cents|·2^horizon inside the
    # exact fixed-point domain with a pointer to the horizon knob.
    max_cents = 2 ** (62 - horizon)
    cents_dbl = F.round(F.col(value_col) * 100)
    aged = (
        df.select(
            F.col(key_col),
            d.alias("__d"),
            cents_dbl.alias("__cents_dbl"),
        )
        .filter((F.col("__d") >= 0) & (F.col("__d") < horizon))
        .select(
            key_col,
            "__d",
            F.when(
                F.abs(F.col("__cents_dbl")) > F.lit(float(max_cents)),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "decayed_aggregate: |value*100| exceeds the "
                            f"fixed-point bound {max_cents} for "
                            f"horizon={horizon} (value*100 = "
                        ),
                        F.col("__cents_dbl").cast("string"),
                        F.lit(
                            "); lower `horizon` or pre-scale the value column"
                        ),
                    )
                ).cast("double"),
            )
            .otherwise(F.col("__cents_dbl"))
            .cast("bigint")
            .alias("__cents"),
        )
    )
    scale = F.expr(f"shiftleft(cast(1 as bigint), {horizon} - __d)")
    # exact, overflow-free accumulation at bigint speed: the per-row
    # product runs in LONG arithmetic (safe — the guard above bounds
    # |cents|·2^(horizon-d) ≤ 2^62) and only the SUM accumulates in
    # DECIMAL(38,0), matching DuckDB's HUGEINT bigint-sum semantics.
    # (A decimal multiply per row measured +23% on the whole query at
    # sf≈1; casting the long product costs nothing.)
    return (
        aged.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(scale.cast("decimal(38,0)")).alias("__decayed_count_fp"),
            F.sum(
                (F.col("__cents") * scale).cast("decimal(38,0)")
            ).alias("__decayed_cents_fp"),
        )
        .select(
            key_col,
            "n_events",
            (
                F.col("__decayed_count_fp").cast("double")
                / F.lit(float(2**horizon))
            ).alias("decayed_count"),
            (
                F.col("__decayed_cents_fp").cast("double")
                / F.lit(float(2**horizon) * 100.0)
            ).alias("decayed_value"),
        )
    )


def decayed_aggregate_oracle_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    now: str,
    half_life_days: int = 7,
    horizon: int = 30,
) -> str:
    """DuckDB twin: identical fixed-point plan. datediff semantics
    match (whole-day difference of the date casts); the two divisions
    at the end are by powers of two (exact)."""
    return f"""
    WITH aged AS (
      SELECT {key_col},
             CAST(floor(date_diff('day', CAST({ts_col} AS DATE),
                                  DATE '{now}') * 1.0
                        / {half_life_days}) AS INT) AS d,
             CAST(round({value_col} * 100) AS BIGINT) AS cents
      FROM {table}
    )
    SELECT {key_col},
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(1 AS BIGINT) << ({horizon} - d)) AS DOUBLE)
             / {float(2 ** horizon)!r} AS decayed_count,
           CAST(sum(cents * (CAST(1 AS BIGINT) << ({horizon} - d)))
                AS DOUBLE)
             / {float(2 ** horizon) * 100.0!r} AS decayed_value
    FROM aged
    WHERE d >= 0 AND d < {horizon}
    GROUP BY {key_col}
    """


def normalize_features(
    df: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    scale: int = 100,
) -> DataFrame:
    """Feature scaling for ML hand-off: per input column emit the
    z-score (``z_<col>``) and min-max (``mm_<col>``) normalized value
    — the batch, oracle-checkable equivalent of MLlib's
    StandardScaler/MinMaxScaler (which `ml/pipeline.py` uses inside
    the model pipeline; this op is for materializing scaled feature
    TABLES, reference `src/pipelines/batch_pipeline.py` feature
    preparation).

    All statistics come from one fused aggregate using EXACT integer/
    decimal moments (the `stats_with_outliers` discipline: first
    moment bigint, second moment decimal(38,0), one correctly-rounded
    conversion at the end), so every mean/std — and therefore every
    scaled value — is bit-identical across engines, partitionings,
    and cluster sizes. NULLs pass through as NULL; a zero-variance or
    constant column yields NULL scores (guarded division), never ±inf.

    Scale shape: ONE full scan for the moments (all columns fused into
    a single 1-row aggregate), broadcast back, one projection pass —
    shuffle-free at any size.
    """
    aggs = []
    for c in value_cols:
        v = F.col(c)
        iv = F.round(v * scale).cast("bigint")
        ivd = F.round(v * scale).cast("decimal(38,0)")
        aggs += [
            F.count(v).alias(f"__n_{c}"),
            F.sum(iv).cast("double").alias(f"__s1_{c}"),
            F.sum(ivd * ivd).cast("double").alias(f"__s2_{c}"),
            F.min(v).alias(f"__min_{c}"),
            F.max(v).alias(f"__max_{c}"),
        ]
    stats = df.agg(*aggs)

    out_cols = [F.col(k) for k in key_cols]
    s = float(scale)
    for c in value_cols:
        v = F.col(c)
        n = F.col(f"__n_{c}")
        s1 = F.col(f"__s1_{c}")
        s2 = F.col(f"__s2_{c}")
        mean = s1 / s / n
        # n ≤ 1 → no sample variance; guard BEFORE the (n-1) division
        # (ANSI mode raises DIVIDE_BY_ZERO, it doesn't yield NULL)
        std = F.when(
            n > 1,
            F.sqrt(
                (s2 / (s * s) - (s1 / s) * (s1 / s) / n) / (n - F.lit(1))
            ),
        )
        rng = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        out_cols.append(
            F.round(
                F.when(std > 0, (v - mean) / std), 6
            ).alias(f"z_{c}")
        )
        out_cols.append(
            F.round(
                F.when(rng > 0, (v - F.col(f"__min_{c}")) / rng), 6
            ).alias(f"mm_{c}")
        )
    return df.crossJoin(F.broadcast(stats)).select(*out_cols)


def normalize_features_oracle_sql(
    table: str,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    scale: int = 100,
) -> str:
    """DuckDB twin: identical exact-moment arithmetic, identical
    guards and rounding."""
    s = float(scale)
    stats_sel = []
    for c in value_cols:
        stats_sel += [
            f"count({c}) AS n_{c}",
            f"CAST(sum(CAST(round({c} * {scale}) AS BIGINT)) AS DOUBLE)"
            f" AS s1_{c}",
            f"CAST(sum(CAST(round({c} * {scale}) AS DECIMAL(38,0))"
            f" * CAST(round({c} * {scale}) AS DECIMAL(38,0))) AS DOUBLE)"
            f" AS s2_{c}",
            f"min({c}) AS min_{c}",
            f"max({c}) AS max_{c}",
        ]
    proj = list(key_cols)
    for c in value_cols:
        mean = f"(s1_{c} / {s!r} / n_{c})"
        std = (
            f"(CASE WHEN n_{c} > 1 THEN"
            f" sqrt((s2_{c} / {s * s!r} - (s1_{c} / {s!r})"
            f" * (s1_{c} / {s!r}) / n_{c}) / (n_{c} - 1)) END)"
        )
        rng = f"(max_{c} - min_{c})"
        proj.append(
            f"round(CASE WHEN {std} > 0 THEN ({c} - {mean}) / {std} END, 6)"
            f" AS z_{c}"
        )
        proj.append(
            f"round(CASE WHEN {rng} > 0 THEN ({c} - min_{c}) / {rng} END, 6)"
            f" AS mm_{c}"
        )
    return f"""
    WITH stats AS (SELECT {", ".join(stats_sel)} FROM {table})
    SELECT {", ".join(proj)}
    FROM {table}, stats
    """


# ---------------------------------------------------------------------------
# Incremental maintenance of algebraic partials (IVM)
# ---------------------------------------------------------------------------

_MERGE_KINDS = {"sum", "min", "max"}


def merge_algebraic_partials(
    parts: DataFrame,
    key_cols: Sequence[str],
    agg_spec: dict[str, str],
) -> DataFrame:
    """Re-aggregate a frame of algebraic partials (counts merge as
    sums of counts; ``agg_spec`` maps each partial column to its merge
    function 'sum'|'min'|'max'). One map-side-combined shuffle on the
    key; lossless for algebraic aggregates by definition."""
    bad = {k for k in agg_spec.values()} - _MERGE_KINDS
    if bad:
        raise ValueError(f"merge_algebraic_partials: bad kinds {sorted(bad)}")
    missing = [c for c in agg_spec if c not in parts.columns]
    if missing:
        raise ValueError(
            f"merge_algebraic_partials: partials lack columns {missing}"
        )
    # a column outside key_cols ∪ agg_spec would silently VANISH from
    # the merged output ("the full next-version partial table") — make
    # the caller say what to do with it instead
    extra = [
        c for c in parts.columns
        if c not in agg_spec and c not in list(key_cols)
    ]
    if extra:
        raise ValueError(
            "merge_algebraic_partials: columns neither keys nor "
            f"aggregated would be dropped: {extra}"
        )
    aggs = [
        getattr(F, kind)(c).cast(dict(parts.dtypes)[c]).alias(c)
        for c, kind in agg_spec.items()
    ]
    return parts.groupBy(*key_cols).agg(*aggs)


def update_algebraic_partials(
    existing: DataFrame,
    batch_partials: DataFrame,
    key_cols: Sequence[str],
    agg_spec: dict[str, str],
    touched_only: bool = False,
) -> DataFrame:
    """Incremental-view-maintenance step for a stored algebraic-
    partial table (the a18 pattern made continuous): fold a new
    batch's partials into the existing store WITHOUT rescanning raw
    history — the merge reads partial rows only, so maintaining a
    100 TB rollup costs O(|batch| + |touched partials|), not O(raw).

    ``touched_only=True`` returns ONLY the keys the batch touches —
    exactly the rows a partition-scoped merge
    (`pipelines/txn.py::upsert_manifest_partitioned`) must rewrite;
    the semi-join probe side is the batch's distinct keys, which AQE
    broadcasts in every realistic cycle (a day's batch touches a few
    partitions of a years-deep store). With ``touched_only=False``
    the full next-version partial table comes back (union + one
    keyed merge).
    """
    key_cols = list(key_cols)
    if set(existing.columns) != set(batch_partials.columns):
        raise ValueError(
            "update_algebraic_partials: schema mismatch "
            f"{sorted(existing.columns)} vs {sorted(batch_partials.columns)}"
        )
    if touched_only:
        touched = batch_partials.select(*key_cols).distinct()
        existing = existing.join(touched, key_cols, "left_semi")
    merged = existing.unionByName(batch_partials)
    return merge_algebraic_partials(merged, key_cols, agg_spec)


def evaluate_alerts(metrics: DataFrame, rules: Sequence[dict]) -> DataFrame:
    """Alert-rule evaluation over metric rows — the queryable analogue
    of the reference's PromQL alert rules
    (`monitoring/alerts/api_alerts.yml:1-22`: warning/critical
    threshold ladders over latency, error-rate, cache-hit and
    liveness gauges). The engine's gauges are data-quality scalars
    (freshness/completeness/count metrics), so the operator takes a
    tiny (metric, value) frame plus declarative rules and emits one
    verdict row per rule: (rule, severity, metric, value, threshold,
    firing).

    ``rules``: [{"rule", "metric", "op" (one of < <= > >= ==),
    "threshold", "severity"}]. A rule whose metric is absent from the
    frame reports value NULL and firing FALSE (PromQL's absent-metric
    behavior) — alerting on absence itself is just a count metric.

    Scale shape: ``metrics`` is the OUTPUT of aggregate jobs (a few
    rows), so this is a broadcast join of two tiny frames — zero
    shuffles of table data; the heavy lifting stays in whatever
    aggregates produced the metrics."""
    ops = {"<", "<=", ">", ">=", "=="}
    bad = [r for r in rules if r.get("op") not in ops]
    if bad or not rules:
        raise ValueError(
            f"evaluate_alerts: rules need op in {sorted(ops)}; "
            f"got {bad!r}" if bad else "evaluate_alerts: no rules"
        )
    spark = metrics.sparkSession
    rules_df = local_frame(
        spark,
        [
            (r["rule"], r["metric"], r["op"],
             float(r["threshold"]), r["severity"])
            for r in rules
        ],
        "rule string, metric string, op string, "
        "threshold double, severity string",
    )
    m = metrics.select(
        F.col("metric"), F.col("value").cast("double").alias("value")
    )
    v, t = F.col("value"), F.col("threshold")
    fired = (
        F.when(F.col("op") == "<", v < t)
        .when(F.col("op") == "<=", v <= t)
        .when(F.col("op") == ">", v > t)
        .when(F.col("op") == ">=", v >= t)
        .otherwise(v == t)
    )
    return rules_df.join(F.broadcast(m), "metric", "left").select(
        "rule",
        "severity",
        "metric",
        "value",
        "threshold",
        F.coalesce(fired, F.lit(False)).alias("firing"),
    )


# The reference's remaining two PromQL rule packs, re-expressed as
# evaluate_alerts rule sets over gauges the engine actually emits.
#
# pipeline_alerts.yml (`monitoring/alerts/pipeline_alerts.yml:1-75`)
# maps 1:1 — same thresholds, same severities; the PromQL rate()/
# increase() windows become the pre-aggregated gauges a pipeline
# driver reports per run (runs-with-error count, run duration,
# freshness minutes, completeness ratio, streaming latency, anomaly
# rate).
PIPELINE_ALERT_RULES = [
    {"rule": "pipeline_failure_critical", "metric": "pipeline_runs_error",
     "op": ">", "threshold": 0.0, "severity": "critical"},
    {"rule": "pipeline_slow_warning", "metric": "pipeline_duration_seconds",
     "op": ">", "threshold": 3600.0, "severity": "warning"},
    {"rule": "stale_data_warning", "metric": "data_freshness_minutes",
     "op": ">", "threshold": 120.0, "severity": "warning"},
    {"rule": "data_incomplete_warning", "metric": "data_completeness_ratio",
     "op": "<", "threshold": 0.95, "severity": "warning"},
    {"rule": "streaming_lag_warning", "metric": "streaming_latency_seconds",
     "op": ">", "threshold": 5.0, "severity": "warning"},
    {"rule": "data_anomaly_warning", "metric": "data_anomaly_rate",
     "op": ">", "threshold": 0.1, "severity": "warning"},
]


def database_alert_rules(table: str) -> list[dict]:
    """The database_alerts.yml pack
    (`monitoring/alerts/database_alerts.yml:1-70`) translated to the
    engine's storage layer: Postgres/Redis health, latency, and
    pool-exhaustion gauges become the manifest-table gauges
    ``txn.engine_metrics`` emits — liveness stays liveness
    (``readable == 0``), write-path latency becomes ingest staleness,
    and pool exhaustion becomes its lake-side twin, small-file /
    version pile-up pressure. Metrics are ``{table}_{gauge}`` —
    flatten engine_metrics with ``concat(table, '_', metric)``."""

    def m(g: str) -> str:
        return f"{table}_{g}"

    return [
        # FeatureStoreDatabaseDown: health check failing
        {"rule": m("unreadable_critical"), "metric": m("readable"),
         "op": "==", "threshold": 0.0, "severity": "critical"},
        # HighLatency analogue: nothing committed for a day
        {"rule": m("stale_commits_warning"),
         "metric": m("seconds_since_last_commit"),
         "op": ">", "threshold": 86400.0, "severity": "warning"},
        # PoolExhaustion analogue: compaction pressure
        {"rule": m("small_files_warning"), "metric": m("avg_file_bytes"),
         "op": "<", "threshold": 8.0 * 1024 * 1024,
         "severity": "warning"},
        # MigrationFailure analogue: vacuum debt piling up versions
        {"rule": m("version_pileup_warning"),
         "metric": m("commits_retained"),
         "op": ">", "threshold": 100.0, "severity": "warning"},
        # CacheDown analogue: the table lost all its rows
        {"rule": m("empty_table_critical"), "metric": m("rows"),
         "op": "<", "threshold": 1.0, "severity": "critical"},
        # deletion-vector debt: soft-deleted rows piling up unpurged —
        # schedule run_table_maintenance(purge_dv_above=...) / REORG
        {"rule": m("dv_debt_warning"), "metric": m("dv_deleted_rows"),
         "op": ">", "threshold": 100000.0, "severity": "warning"},
    ]


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics rollup
    the reference's warehouse views stop just short of
    (`sql/bigquery_schema.sql:75-94` aggregates per-user risk; this
    aggregates per-COHORT activity): assign every user to the week of
    their first event, then for each (cohort_week, week_offset) count
    how many of that cohort's users were active, with the retention
    rate as the exact two-integer division n_active/cohort_size
    (bit-identical across engines, no rounding contract needed).

    Emits (cohort_week, period_offset, n_active, cohort_size,
    retention_rate), offset 0 rows carrying n_active == cohort_size by
    construction.

    Scale shape: ONE pass over events — groupBy(user) producing the
    cohort (min ts) and the distinct active periods (collect_set,
    bounded by periods-per-user, ≤ a few hundred for daily
    granularity over a year), then explode + groupBy(cohort, offset)
    where the count IS the distinct-user count (one row per (user,
    period) by construction — no countDistinct state), and the
    cohort sizes fall out of the offset-0 cells via a window over
    the tiny cell rows (no second events pass). No user-keyed join,
    no full-corpus window; shuffled bytes after the first groupBy are
    per-user summaries, not events. Week truncation uses Monday-start
    ``date_trunc('week')`` on both engines, so offsets are exact
    multiples of 7 days. ``granularity``: "week" (default) or "day" —
    sparse-activity corpora read better daily."""
    if granularity not in ("week", "day"):
        raise ValueError(
            f"granularity must be 'week' or 'day', got {granularity!r}"
        )
    span = 7 if granularity == "week" else 1
    per_user = events.groupBy(user_col).agg(
        F.to_date(F.date_trunc(granularity, F.min(ts_col))).alias(
            "__cohort"
        ),
        F.collect_set(
            F.to_date(F.date_trunc(granularity, F.col(ts_col)))
        ).alias("__periods"),
    )
    per_cell = (
        per_user.select(
            "__cohort", F.explode("__periods").alias("__period")
        )
        .groupBy("__cohort", "__period")
        # one row per (user, period) by construction: plain count IS
        # the distinct active-user count
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )
    # cohort_size = n_active of the offset-0 cell: a user's first
    # event lands in their own cohort period, so every cohort member
    # is active at offset 0 and that cell's count IS the cohort size.
    # Deriving it with a per-cohort window (round 10) removes the
    # separate `per_user.groupBy(cohort)` branch, which planned as a
    # SECOND full scan of events + a second user-keyed exchange
    # (Catalyst prunes the two per_user consumers into different
    # aggregates, so the subtree could not be reused). One scan, one
    # user-keyed shuffle; the extra exchange here moves only the tiny
    # (cohort, period, count) cell rows.
    sized = per_cell.withColumn(
        "cohort_size",
        F.max(
            F.when(
                F.col("__period") == F.col("__cohort"),
                F.col("n_active"),
            )
        ).over(Window.partitionBy("__cohort")),
    )
    return sized.select(
        F.col("__cohort").alias("cohort_week"),
        (F.datediff("__period", "__cohort") / span)
        .cast("int")
        .alias("period_offset"),
        "n_active",
        "cohort_size",
        (F.col("n_active") / F.col("cohort_size")).alias(
            "retention_rate"
        ),
    )


def cohort_retention_oracle_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> str:
    """DuckDB twin: same plan; date_trunc('week') is Monday-start in
    both engines, and the rate is the same exact integer division."""
    span = 7 if granularity == "week" else 1
    return f"""
    WITH firsts AS (
      SELECT {user_col},
             CAST(date_trunc('{granularity}', min({ts_col})) AS DATE)
               AS cohort
      FROM {table} GROUP BY {user_col}
    ), activity AS (
      SELECT DISTINCT {user_col},
             CAST(date_trunc('{granularity}', {ts_col}) AS DATE) AS period
      FROM {table}
    ), cells AS (
      SELECT f.cohort, a.period,
             CAST(count(DISTINCT a.{user_col}) AS BIGINT) AS n_active
      FROM activity a JOIN firsts f USING ({user_col})
      GROUP BY f.cohort, a.period
    ), sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort
    )
    SELECT c.cohort AS cohort_week,
           CAST(date_diff('day', c.cohort, c.period) / {span} AS INT)
             AS period_offset,
           c.n_active,
           s.cohort_size,
           c.n_active * 1.0 / s.cohort_size AS retention_rate
    FROM cells c JOIN sizes s USING (cohort)
    """


def ab_test_report(
    events: DataFrame,
    experiment: str = "exp1",
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
    value_col: str = "value",
    min_value: float = 100.0,
) -> DataFrame:
    """A/B experiment readout over an event log — deterministic
    hash-bucketed assignment plus the two-proportion z-test every
    experimentation platform reports. Users are split 50/50 by the
    first hex digit of ``md5(experiment|user_id)`` (stable across
    runs, engines and reshuffles — the industry-standard bucketing),
    a user converts if they emitted a ``conversion_type`` event worth
    at least ``min_value`` (a high-value-purchase goal), and the
    output is one row per variant: (variant, n_users, n_converted,
    conversion_rate) plus the shared (z_score, significant) columns —
    |z| > 1.96 at the usual 5% two-sided level.

    Cross-engine exactness: rates are two-integer divisions; the
    z-score is the SAME parenthesized IEEE-double expression on both
    engines (correctly rounded ops ⇒ bit-identical), so the driver
    hash-checks it with no rounding contract. Degenerate designs —
    an empty variant, zero or total conversion (pooled variance 0) —
    report z NULL and significant FALSE instead of dividing by zero.

    Scale shape: ONE scan — groupBy(user) with a conditional max
    flags converters (no second distinct, no user-keyed join), then
    one groupBy(variant); the z arithmetic runs on a TWO-row
    aggregate. Nothing quadratic; assignment is a scan-local hash,
    exactly how it would run on 10^9 users."""
    bucket = F.substring(
        F.md5(
            F.concat_ws(
                "|", F.lit(experiment), F.col(user_col).cast("string")
            )
        ),
        1,
        1,
    )
    variant = F.when(bucket < F.lit("8"), "A").otherwise("B")
    per_user = events.groupBy(user_col).agg(
        F.max(
            F.when(
                (F.col(type_col) == conversion_type)
                & (F.col(value_col) >= min_value),
                1,
            ).otherwise(0)
        ).alias("__conv")
    )
    per_variant = (
        per_user.select(variant.alias("variant"), "__conv")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("__conv").cast("bigint").alias("n_converted"),
        )
    )
    one = per_variant.agg(
        F.sum(F.when(F.col("variant") == "A", F.col("n_users"))).alias("na"),
        F.sum(F.when(F.col("variant") == "A", F.col("n_converted"))).alias(
            "ca"
        ),
        F.sum(F.when(F.col("variant") == "B", F.col("n_users"))).alias("nb"),
        F.sum(F.when(F.col("variant") == "B", F.col("n_converted"))).alias(
            "cb"
        ),
    )
    # identical parenthesization on both engines — see docstring;
    # the CASE guards the degenerate designs (empty variant, pooled
    # rate 0 or 1) where the z denominator is zero
    z = F.expr(
        "CASE WHEN coalesce(na, 0) > 0 AND coalesce(nb, 0) > 0 "
        "AND (ca + cb) > 0 AND (ca + cb) < (na + nb) THEN "
        "(ca / na - cb / nb) / sqrt(((ca + cb) / (na + nb)) "
        "* (1.0 - (ca + cb) / (na + nb)) * (1.0 / na + 1.0 / nb)) "
        "ELSE NULL END"
    )
    scored = one.select(
        F.col("na"), F.col("ca"), F.col("nb"), F.col("cb"), z.alias("z")
    )
    rows = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("A").alias("variant"),
                    F.col("na").alias("n_users"),
                    F.col("ca").alias("n_converted"),
                    (F.col("ca") / F.col("na")).alias("conversion_rate"),
                ),
                F.struct(
                    F.lit("B").alias("variant"),
                    F.col("nb").alias("n_users"),
                    F.col("cb").alias("n_converted"),
                    (F.col("cb") / F.col("nb")).alias("conversion_rate"),
                ),
            )
        ).alias("r"),
        F.col("z"),
    )
    return rows.select(
        F.col("r.variant").alias("variant"),
        F.col("r.n_users").cast("bigint").alias("n_users"),
        F.col("r.n_converted").cast("bigint").alias("n_converted"),
        F.col("r.conversion_rate").alias("conversion_rate"),
        F.col("z").alias("z_score"),
        F.coalesce(F.abs(F.col("z")) > 1.96, F.lit(False)).alias(
            "significant"
        ),
    )


def ab_test_report_oracle_sql(
    table: str = "events",
    experiment: str = "exp1",
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
    value_col: str = "value",
    min_value: float = 100.0,
) -> str:
    return f"""
    WITH users AS (
      SELECT DISTINCT {user_col} FROM {table}
    ), assigned AS (
      SELECT {user_col},
             CASE WHEN substring(md5('{experiment}' || '|' ||
                      CAST({user_col} AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS variant
      FROM users
    ), conv AS (
      SELECT DISTINCT {user_col} FROM {table}
      WHERE {type_col} = '{conversion_type}'
        AND {value_col} >= {min_value}
    ), per_variant AS (
      SELECT a.variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(count(c.{user_col}) AS BIGINT) AS n_converted
      FROM assigned a LEFT JOIN conv c USING ({user_col})
      GROUP BY a.variant
    ), one AS (
      SELECT sum(CASE WHEN variant = 'A' THEN n_users END) AS na,
             sum(CASE WHEN variant = 'A' THEN n_converted END) AS ca,
             sum(CASE WHEN variant = 'B' THEN n_users END) AS nb,
             sum(CASE WHEN variant = 'B' THEN n_converted END) AS cb
      FROM per_variant
    ), scored AS (
      SELECT na, ca, nb, cb,
             CASE WHEN coalesce(na, 0) > 0 AND coalesce(nb, 0) > 0
                    AND (ca + cb) > 0 AND (ca + cb) < (na + nb) THEN
               (ca / na - cb / nb) / sqrt(((ca + cb) / (na + nb))
                 * (1.0 - (ca + cb) / (na + nb))
                 * (1.0 / na + 1.0 / nb))
             ELSE NULL END AS z
      FROM one
    )
    SELECT v.variant,
           CASE WHEN v.variant = 'A' THEN CAST(na AS BIGINT)
                ELSE CAST(nb AS BIGINT) END AS n_users,
           CASE WHEN v.variant = 'A' THEN CAST(ca AS BIGINT)
                ELSE CAST(cb AS BIGINT) END AS n_converted,
           CASE WHEN v.variant = 'A' THEN ca / na
                ELSE cb / nb END AS conversion_rate,
           z AS z_score,
           COALESCE(abs(z) > 1.96, FALSE) AS significant
    FROM scored CROSS JOIN (VALUES ('A'), ('B')) v(variant)
    """
