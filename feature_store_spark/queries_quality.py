"""Data-quality, migration/validation, streaming-replay, and
remaining SURVEY §2 operator specs (A6/A11/A12, J5/J7, S9, O5, F14,
ST5, rollup, lag/lead, EXCEPT).

Registered via the @spec registry from ``queries.py``; loaded by
``_load_extensions``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from feature_store_spark.queries import (
    RF_SQL,
    SQL_NOW,
    SQL_REF,
    TF_SQL,
    UF_SQL,
    q_risk_features,
    q_transaction_features,
    q_user_features,
    spec,
)
from feature_store_spark.tables import EVENTS_NOW, REF_DATE, load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# Scale-trade checkpoints become ADAPTIVE here (round 11, VERDICT r10
# item 5): a lazy localCheckpoint that exists to collapse two raw
# scans into one costs a fixed materialization round-trip (~40 ms at
# sf0.1), which only pays once a raw scan itself costs more than
# that — empirically around a few hundred MB of parquet on this
# hardware, and unambiguously at the 100 TB target. Below the
# threshold the planner's two-scan shape is strictly faster, so the
# helper returns the frame unchanged and both consumers re-plan it.
_CHECKPOINT_MIN_INPUT_BYTES = 256 * 1024 * 1024


def _input_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of fixture table ``name`` (file or directory) —
    a plan-time-cheap proxy for scan cost; 0 when unreadable (callers
    then keep the no-checkpoint fast path, the safe small default).
    Probes the same paths as ``tables.load_flat_table``: the
    ``<sf_dir>/<name>`` partitioned-table directory first, then the
    flat ``<name>.parquet`` file."""
    import os

    path = os.path.join(sf_dir, name)
    if not os.path.isdir(path):
        path = f"{path}.parquet"
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def _checkpoint_if_large(df, sf_dir: str, name: str):
    if _input_bytes(sf_dir, name) >= _CHECKPOINT_MIN_INPUT_BYTES:
        return df.localCheckpoint(eager=False)
    return df


# ---------------------------------------------------------------------------
# A6 — HAVING post-filters (duplicate-key detection / activity gate)
# ---------------------------------------------------------------------------


@spec(
    "a6_having_duplicate_keys",
    """SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
              count(*) AS n_orders
       FROM orders
       GROUP BY o_custkey, CAST(o_orderdate AS DATE)
       HAVING count(*) > 1""",
    ("A6",),
)
def q_a6(spark, sf_dir):
    """Duplicate-key detection via groupBy + post-aggregation filter
    (reference `sql/migration_queries.sql:8-25`). The filter lands on
    already-reduced data — map-side combine keeps the shuffle small."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("order_date")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 1)
    )


# ---------------------------------------------------------------------------
# A11 — approximate aggregates (tolerance-band checked)
# ---------------------------------------------------------------------------


@spec(
    "a11_approx_aggregates",
    """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
              abs(approx_count_distinct(o_custkey)
                  - count(DISTINCT o_custkey)) * 1.0
                / count(DISTINCT o_custkey) < 0.1 AS acd_within_10pct,
              abs(approx_quantile(o_totalprice, 0.5)
                  - quantile_cont(o_totalprice, 0.5))
                / quantile_cont(o_totalprice, 0.5) < 0.1 AS p50_within_10pct,
              abs(approx_quantile(o_totalprice, 0.95)
                  - quantile_cont(o_totalprice, 0.95))
                / quantile_cont(o_totalprice, 0.95) < 0.1 AS p95_within_10pct
       FROM orders""",
    ("A11",),
)
def q_a11(spark, sf_dir):
    """Approximate aggregates (reference `docs/PERFORMANCE.md:552-559`:
    APPROX_COUNT_DISTINCT / APPROX_QUANTILES). Sketches differ across
    engines, so the oracle contract is a tolerance band: each engine
    asserts its own approximation lands within 10% of its own exact
    value — the deterministic booleans (and the exact distinct count)
    are what get hash-compared."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey")
                - F.countDistinct("o_custkey")
            )
            / F.countDistinct("o_custkey")
            < 0.1
        ).alias("acd_within_10pct"),
        (
            F.abs(
                F.percentile_approx("o_totalprice", 0.5)
                - F.expr("percentile(o_totalprice, 0.5)")
            )
            / F.expr("percentile(o_totalprice, 0.5)")
            < 0.1
        ).alias("p50_within_10pct"),
        (
            F.abs(
                F.percentile_approx("o_totalprice", 0.95)
                - F.expr("percentile(o_totalprice, 0.95)")
            )
            / F.expr("percentile(o_totalprice, 0.95)")
            < 0.1
        ).alias("p95_within_10pct"),
    )


# ---------------------------------------------------------------------------
# A12 — JSON-object aggregation
# ---------------------------------------------------------------------------


@spec(
    "a12_json_feature_blob",
    f"""SELECT c.c_mktsegment AS segment,
              CAST(json_object(
                'total_users', count(*),
                'active_users', count(*) FILTER (WHERE o.n IS NOT NULL),
                'total_orders', CAST(COALESCE(sum(o.n), 0) AS BIGINT)
              ) AS VARCHAR) AS feature_blob
       FROM customer c
       LEFT JOIN (
         SELECT o_custkey, count(*) AS n FROM orders
         WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 90
         GROUP BY o_custkey
       ) o ON c.c_custkey = o.o_custkey
       GROUP BY c.c_mktsegment""",
    ("A12", "F13"),
)
def q_a12(spark, sf_dir):
    """Per-group JSON feature blob (reference ``jsonb_build_object``
    per group, `docs/PERFORMANCE.md:66-114`). Keys are emitted in
    declaration order by both engines; values are integers so the JSON
    text is byte-identical. The 90d per-customer count serves from
    the custkey projection: exchange-free aggregate, page-skipped
    window scan (facts.py)."""
    ref = F.to_date(F.lit(REF_DATE))
    o = (
        _t(spark, sf_dir, "orders_by_custkey")
        .filter(F.to_date("o_orderdate") >= F.date_sub(ref, 90))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.to_json(
                F.struct(
                    F.count(F.lit(1)).alias("total_users"),
                    F.count(F.col("n")).alias("active_users"),
                    F.coalesce(F.sum("n"), F.lit(0)).alias("total_orders"),
                )
            ).alias("feature_blob")
        )
    )


# ---------------------------------------------------------------------------
# J5 — sample-validation join; J7 — view join with partition filter
# ---------------------------------------------------------------------------


@spec(
    "j5_sample_validation",
    f"""WITH sample AS (
         SELECT c_custkey FROM customer
         ORDER BY md5(CAST(c_custkey AS VARCHAR)) LIMIT 50
       ), uf AS ({UF_SQL})
       SELECT s.c_custkey AS user_id, c.c_name, c.c_mktsegment,
              uf.total_orders, uf.avg_order_value
       FROM sample s
       JOIN customer c ON s.c_custkey = c.c_custkey
       LEFT JOIN uf ON s.c_custkey = uf.user_id""",
    ("J5", "O3"),
)
def q_j5(spark, sf_dir):
    """Deterministic-sample validation join (reference
    `sql/migration_queries.sql:117-137`: random_users ⋈ users ⟕
    feature tables). The sample is md5-ordered (seeded-random stand-in,
    O3) and broadcast into the joins — validation cost is proportional
    to the sample, not the table."""
    c = _t(spark, sf_dir, "customer")
    sample = (
        c.select("c_custkey")
        .orderBy(F.md5(F.col("c_custkey").cast("string")))
        .limit(50)
    )
    uf = q_user_features(spark, sf_dir)
    return (
        F.broadcast(sample)
        .join(c, "c_custkey")
        .join(
            uf.withColumnRenamed("user_id", "c_custkey"),
            "c_custkey",
            "left",
        )
        .select(
            F.col("c_custkey").alias("user_id"),
            "c_name",
            "c_mktsegment",
            "total_orders",
            "avg_order_value",
        )
    )


@spec(
    "j7_risk_summary_view",
    f"""WITH uf AS ({UF_SQL}), tf AS ({TF_SQL}), rf AS ({RF_SQL})
       SELECT uf.user_id, uf.segment,
              tf.total_transactions_30d, rf.risk_score,
              CASE WHEN rf.risk_score IS NULL THEN 'Unknown'
                   WHEN rf.risk_score <= 30 THEN 'Low'
                   WHEN rf.risk_score <= 70 THEN 'Medium'
                   ELSE 'High' END AS risk_category
       FROM uf
       JOIN tf ON uf.user_id = tf.user_id
       LEFT JOIN rf ON uf.user_id = rf.user_id
       WHERE uf.total_orders > 0""",
    ("J7", "F2"),
)
def q_j7(spark, sf_dir):
    """Analytical view over the feature tables with a pruning filter
    and risk bucketing (reference ``user_risk_summary`` view,
    `sql/bigquery_schema.sql:75-94`). The ``total_orders > 0`` filter
    plays the partition-filter role: on a date-partitioned offline
    store the same predicate prunes partitions at scan time."""
    uf = q_user_features(spark, sf_dir)
    tf = q_transaction_features(spark, sf_dir)
    rf = q_risk_features(spark, sf_dir)
    return (
        uf.filter(F.col("total_orders") > 0)
        .join(tf, "user_id")
        .join(rf, "user_id", "left")
        .select(
            "user_id",
            "segment",
            "total_transactions_30d",
            "risk_score",
            F.when(F.col("risk_score").isNull(), "Unknown")
            .when(F.col("risk_score") <= 30, "Low")
            .when(F.col("risk_score") <= 70, "Medium")
            .otherwise("High")
            .alias("risk_category"),
        )
    )


# ---------------------------------------------------------------------------
# S9 — ordered export; O5 — existence probe
# ---------------------------------------------------------------------------


@spec(
    "s9_ordered_export",
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
              CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT)
                AS export_rank
       FROM customer""",
    ("S9", "O1", "O4"),
)
def q_s9(spark, sf_dir):
    """Deterministic ordered export (reference LIMIT/OFFSET pagination
    loop, `src/pipelines/migration.py:413-478`, collapsed into one
    ordered partitioned write). The explicit export_rank column proves
    the global ordering in the hash comparison — Spark computes it
    with a single-partition window, which is exactly what a global
    ORDER BY costs; real exports write ``orderBy(...).write`` and let
    the range partitioner handle scale."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.row_number()
        .over(Window.orderBy("c_custkey"))
        .cast("bigint")
        .alias("export_rank"),
    )


@spec(
    "o5_existence_probe",
    """SELECT 'customer' AS table_name,
              EXISTS(SELECT 1 FROM customer) AS has_rows
       UNION ALL SELECT 'orders', EXISTS(SELECT 1 FROM orders)
       UNION ALL SELECT 'events', EXISTS(SELECT 1 FROM events)""",
    ("O5", "U2"),
)
def q_o5(spark, sf_dir):
    """Existence probes (reference ``SELECT 1 FROM t LIMIT 1``,
    `src/pipelines/migration.py:270`): limit(1) scan per table — Spark
    stops at the first non-empty partition."""
    rows = []
    for name in ["customer", "orders", "events"]:
        has = (
            _t(spark, sf_dir, name)
            .limit(1)
            .agg((F.count(F.lit(1)) > 0).alias("has_rows"))
            .select(F.lit(name).alias("table_name"), "has_rows")
        )
        rows.append(has)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# F14 — freshness arithmetic
# ---------------------------------------------------------------------------


@spec(
    "f14_freshness_minutes",
    f"""SELECT user_id, max(ts) AS latest_ts,
              CAST(floor((epoch({SQL_NOW})
                          - epoch(date_trunc('second', max(ts)))) / 60)
                   AS BIGINT) AS freshness_minutes
       FROM events GROUP BY user_id""",
    ("F14", "F7"),
)
def q_f14(spark, sf_dir):
    """Per-user data-freshness minutes relative to the injected now
    (reference `src/feature_store/store.py:189-201`)."""
    now_s = F.unix_timestamp(F.to_timestamp(F.lit(EVENTS_NOW)))
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("latest_ts"))
        .select(
            "user_id",
            "latest_ts",
            F.floor((now_s - F.unix_timestamp("latest_ts")) / 60)
            .cast("bigint")
            .alias("freshness_minutes"),
        )
    )


# ---------------------------------------------------------------------------
# ST5 — sliding-window velocity features (batch replay)
# ---------------------------------------------------------------------------


@spec(
    "st5_velocity_features",
    """WITH anchor AS (SELECT max(ts) AS now FROM events)
       SELECT user_id,
              count(*) FILTER (WHERE ts > now - INTERVAL 5 MINUTE)
                AS transaction_velocity_5m,
              COALESCE(CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE ts > now - INTERVAL 5 MINUTE
                        AND event_type = 'purchase') AS BIGINT), 0)
                AS spending_cents_5m,
              count(*) FILTER (WHERE ts > now - INTERVAL 1 HOUR)
                AS transactions_last_hour,
              count(DISTINCT event_type)
                FILTER (WHERE ts > now - INTERVAL 1 HOUR)
                AS unique_event_types_last_hour,
              count(*) FILTER (WHERE ts > now - INTERVAL 24 HOUR
                               AND event_type = 'purchase') * 1.0
                / NULLIF(count(*) FILTER (WHERE ts > now - INTERVAL 24 HOUR
                         AND event_type IN ('purchase', 'error')), 0)
                AS payment_success_rate_24h
       FROM events, anchor
       GROUP BY user_id
       HAVING count(*) FILTER (WHERE ts > now - INTERVAL 24 HOUR) > 0""",
    ("ST5", "W3", "A2", "A3", "A5"),
)
def q_st5(spark, sf_dir):
    """Sliding-window velocity features, batch-replay form (reference
    `docs/ADVANCED.md:831-940`: 5m/1h/24h per-user windows). The
    anchor is max(event ts) — a 1-row aggregate broadcast onto the
    scan, standing in for the streaming job's processing-time now; the
    streaming module computes the same features incrementally. Single
    groupBy(user) pass for every window (scan-once-aggregate-many)."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("now"))
    e = ev.crossJoin(F.broadcast(anchor))
    now = F.col("now")
    in_5m = F.col("ts") > now - F.expr("INTERVAL 5 MINUTES")
    in_1h = F.col("ts") > now - F.expr("INTERVAL 1 HOURS")
    in_24h = F.col("ts") > now - F.expr("INTERVAL 24 HOURS")
    purch = F.col("event_type") == "purchase"
    n24 = F.count(F.when(in_24h, 1))
    succ = F.count(F.when(in_24h & purch, 1))
    attempts = F.count(
        F.when(in_24h & F.col("event_type").isin("purchase", "error"), 1)
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.when(in_5m, 1)).alias("transaction_velocity_5m"),
            F.coalesce(
                F.sum(
                    F.when(
                        in_5m & purch,
                        F.round(F.col("value") * 100).cast("bigint"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("spending_cents_5m"),
            F.count(F.when(in_1h, 1)).alias("transactions_last_hour"),
            F.countDistinct(F.when(in_1h, F.col("event_type"))).alias(
                "unique_event_types_last_hour"
            ),
            F.when(attempts == 0, None)
            .otherwise(succ / attempts)
            .alias("payment_success_rate_24h"),
            n24.alias("__n24"),
        )
        .filter(F.col("__n24") > 0)
        .drop("__n24")
    )


# ---------------------------------------------------------------------------
# Rollup / lag-lead / EXCEPT (available-in-Spark extras noted in §2)
# ---------------------------------------------------------------------------


def _nation_segment_cents(spark, sf_dir):
    """Shared base frame for the a14/a15/a17 marginal-total trio: the
    customer⋈nation join projected to (nation, segment, exact cents) —
    one definition so a change to the join or the cents rounding
    cannot desynchronize the three grouping variants."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return c.join(n, c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("__cents"),
    )


def _marginal_aggs():
    return (
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("__cents").cast("bigint").alias("balance_cents"),
    )


@spec(
    "a14_rollup_counts",
    """SELECT n.n_name AS nation, c.c_mktsegment AS segment,
              count(*) AS n_customers,
              CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                AS balance_cents
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY ROLLUP(n.n_name, c.c_mktsegment)""",
    ("A14",),
)
def q_a14(spark, sf_dir):
    """Hierarchical totals via ROLLUP (SURVEY §2.4 'free if needed':
    nation → segment → grand total in one pass; Spark expands to
    grouping sets with partial aggregation)."""
    return (
        _nation_segment_cents(spark, sf_dir)
        .rollup("nation", "segment")
        .agg(*_marginal_aggs())
    )


@spec(
    "a15_cube_counts",
    """SELECT n.n_name AS nation, c.c_mktsegment AS segment,
              count(*) AS n_customers,
              CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                AS balance_cents
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY CUBE(n.n_name, c.c_mktsegment)""",
    ("A14", "cube"),
)
def q_a15(spark, sf_dir):
    """All marginal totals via CUBE (adds the segment-only margins
    ROLLUP lacks) — same single-pass grouping-sets expansion."""
    return (
        _nation_segment_cents(spark, sf_dir)
        .cube("nation", "segment")
        .agg(*_marginal_aggs())
    )


@spec(
    "w6_ntile_buckets",
    """SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
              ntile(10) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS decile
       FROM customer""",
    ("W2", "ntile"),
)
def q_w6(spark, sf_dir):
    """Per-segment decile bucketing (feature discretization / quantile
    binning). Partitioned NTILE — one shuffle on the segment, never a
    global single-partition sort; the (value, id) ordering makes bucket
    boundaries deterministic across engines."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        "c_acctbal",
        F.ntile(10).over(w).alias("decile"),
    )


@spec(
    "w3_lag_lead_gaps",
    """SELECT user_id, event_id, ts,
              lag(event_id) OVER w AS prev_event_id,
              lead(event_id) OVER w AS next_event_id,
              CAST(epoch(date_trunc('second', ts))
                   - epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT)
                AS seconds_since_prev
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    ("W3",),
)
def q_w3(spark, sf_dir):
    """Per-user event sequencing with lag/lead (SURVEY §2.5 extras:
    session-gap analysis base). One shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        )
        .cast("bigint")
        .alias("seconds_since_prev"),
    )


def _a22_oracle():
    from feature_store_spark.operators.aggregates import (
        normalize_features_oracle_sql,
    )

    return normalize_features_oracle_sql(
        "orders", ["o_orderkey"], ["o_totalprice"]
    )


@spec("a22_feature_scaling", _a22_oracle(), ("ext", "A7", "ml", "scaling"))
def q_a22_feature_scaling(spark, sf_dir):
    """Materialized feature scaling (z-score + min-max per value) from
    ONE fused exact-moment aggregate broadcast back over the table —
    bit-identical across engines/cluster sizes, shuffle-free
    (`operators/aggregates.py::normalize_features`)."""
    from feature_store_spark.operators.aggregates import normalize_features

    return normalize_features(
        _t(spark, sf_dir, "orders"), ["o_orderkey"], ["o_totalprice"]
    )


def _a21_oracle():
    from feature_store_spark.operators.diff import value_drift_oracle_sql

    return value_drift_oracle_sql(
        f"SELECT value FROM events WHERE ts <  {SQL_NOW} - INTERVAL 30 DAY",
        f"SELECT value FROM events WHERE ts >= {SQL_NOW} - INTERVAL 30 DAY",
        "value",
    )


@spec("a21_value_drift", _a21_oracle(), ("ext", "A7", "A19", "drift"))
def q_a21_value_drift(spark, sf_dir):
    """PSI distribution-drift report: event values in the trailing 30d
    vs all history before — per-log-bucket shares, quantized PSI terms,
    exact DECIMAL-summed PSI total and the 0.2 drift flag
    (`operators/diff.py::value_drift_report`). Bucket scheme shared
    with the a19 sketch, so a deployed store computes this from stored
    partials without rescanning."""
    from feature_store_spark.operators.diff import value_drift_report

    ev = _t(spark, sf_dir, "events")
    now_ts = F.to_timestamp(F.lit(EVENTS_NOW))
    cut = now_ts - F.expr("INTERVAL 30 DAYS")
    return value_drift_report(
        ev.filter(F.col("ts") < cut),
        ev.filter(F.col("ts") >= cut),
        "value",
    )


def _scd2_oracle():
    from feature_store_spark.operators.windows import scd2_history_oracle_sql

    return scd2_history_oracle_sql(
        "events", "user_id", "ts", "event_type", "event_id"
    )


@spec("w8_scd2_history", _scd2_oracle(), ("ext", "W1", "J9", "scd2"))
def q_w8_scd2(spark, sf_dir):
    """SCD2 history build from the event change log: per-user
    event_type validity intervals with heartbeat collapse — the
    point-in-time join target (`operators/windows.py::scd2_history`);
    one key shuffle, two window passes."""
    from feature_store_spark.operators.windows import scd2_history

    return scd2_history(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


_W9_MAXLEN = 50


@spec(
    "w9_event_sequences",
    f"""SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              array_to_string(
                (array_agg(event_type ORDER BY ts, event_id))
                  [1:{_W9_MAXLEN}], '>') AS seq,
              CAST(least(count(*), {_W9_MAXLEN}) AS BIGINT) AS seq_len,
              date_trunc('second', min(ts)) AS first_ts,
              date_trunc('second', max(ts)) AS last_ts
       FROM events GROUP BY user_id""",
    ("ext", "W1", "sequence"),
)
def q_w9_event_sequences(spark, sf_dir):
    """Per-user ordered behavior sequences — the construction step for
    sequential-recommendation / user-LM training data: each user's
    event-type string in (ts, event_id) order, truncated to the first
    50. One map-side-combined groupBy carrying (ts, event_id, type)
    structs; ordering comes from sort_array on the aggregated structs
    (deterministic tiebreak on event_id — the w1 rule), never a
    separate window pass, so the sequence build is one shuffle. At
    100 TB per-user histories are bounded by the truncation cap
    BEFORE the string join — the aggregate state is capped too in the
    production form (slice-on-merge); here the full per-user struct
    list is collected, which the fixture's per-user cardinality
    bounds."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"), F.col("event_type")
        ).alias("__e"),
        F.date_trunc("second", F.col("ts")).alias("__ts_s"),
    )
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sort_array(F.collect_list("__e")).alias("__seq"),
        F.min("__ts_s").alias("first_ts"),
        F.max("__ts_s").alias("last_ts"),
    )
    head = F.slice(F.col("__seq"), 1, _W9_MAXLEN)
    return agg.select(
        "user_id",
        "n_events",
        F.array_join(
            F.transform(head, lambda e: e.getField("event_type")), ">"
        ).alias("seq"),
        F.least(F.col("n_events"), F.lit(_W9_MAXLEN))
        .cast("bigint")
        .alias("seq_len"),
        "first_ts",
        "last_ts",
    )


@spec(
    "w10_funnel_conversion",
    """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS tss,
                          event_type
                   FROM events),
    v AS (SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN tss END) AS t_view
          FROM ev GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.tss) AS t_click
          FROM ev e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.tss >= v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.tss) AS t_purchase
          FROM ev e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.tss >= c.t_click
          GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_depth
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id""",
    ("ext", "W3", "funnel"),
)
def q_w10_funnel_conversion(spark, sf_dir):
    """Ordered funnel conversion (beyond the reference surface): per
    user, the first view, the first click AT-OR-AFTER that view, and
    the first purchase at-or-after that click — the stage-progression
    query behind every product-analytics funnel (and the
    label-construction step for conversion models). Sequential
    dependence (each stage anchors on the previous stage's timestamp)
    is expressed as chained conditional window-mins over ONE user
    partitioning: a single Exchange, zero joins, zero re-scans — the
    plan a cluster wants (the oracle's join-per-stage formulation
    would re-shuffle the events table per stage). Timestamps truncate
    to seconds BEFORE anchoring on both engines (the time-boundary
    parity rule). This driver row pins the fixed 3-stage instance of
    the general N-stage ``operators.windows.funnel``."""
    from feature_store_spark.operators.windows import funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", F.col("ts")).alias("tss"),
        "event_type",
    )
    return funnel(
        ev,
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        ts_col="tss",
    )


@spec(
    "w7_rolling_spend",
    f"""SELECT o_custkey AS user_id, o_orderkey,
              CAST(o_orderdate AS DATE) AS order_date,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS spend_7d_cents,
              CAST(count(*) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
              ) AS BIGINT) AS orders_7d
       FROM orders
       WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 365""",
    ("W3", "frame"),
)
def q_w7(spark, sf_dir):
    """Rolling 7-day spend per user via a RANGE frame over epoch-days
    (value-based frame, not row-based: all orders of the same day are
    peers). Integer-cents sums keep the running aggregate exact and
    engine-independent. Served from the custkey-bucketed projection
    (facts.py): the window's hash requirement is satisfied by the
    bucket distribution (zero Exchange of fact rows) and the
    trailing-365d filter page-skips the date-sorted buckets; only the
    in-partition sort on the computed epoch-day key remains."""
    ref = F.to_date(F.lit(REF_DATE))
    day = F.unix_date(F.to_date("o_orderdate"))
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders_by_custkey")
        .filter(F.to_date("o_orderdate") >= F.date_sub(ref, 365))
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.sum(cents).over(w).cast("bigint").alias("spend_7d_cents"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("orders_7d"),
        )
    )


@spec(
    "w14_event_transitions",
    """WITH pairs AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events
    ), cnt AS (
      SELECT src, dst, count(*) AS n
        FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2
    )
    SELECT src, dst, CAST(n AS BIGINT) AS n_transitions,
           round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6)
             AS p_transition
      FROM cnt""",
    ("ext", "W3", "markov"),
)
def q_w14_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    streams — the user-journey model behind next-action features and
    funnel anomaly detection. One window per user orders events
    ((ts, event_id) — the W1 tiebreak rule), ``lead`` pairs each event
    with its successor, one map-combined count per (src, dst), and
    the per-src normalization rides a window over the tiny transition
    matrix (|event types|² rows), never the event stream. Counts are
    exact bigints; each probability is a single two-int division
    rounded once — bit-stable across engines."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    cnt = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    per_src = Window.partitionBy("src")
    return cnt.select(
        "src",
        "dst",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(per_src),
            6,
        ).alias("p_transition"),
    )


@spec(
    "a30_behavior_entropy",
    """WITH c AS (
      SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ), t AS (SELECT user_id, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.user_id,
           CAST(t.tot AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_event_types,
           CAST(sum(CAST(round(-(n * 1.0 / tot) * ln(n * 1.0 / tot), 9)
                         AS DECIMAL(18, 9))) AS DOUBLE) AS entropy
      FROM c JOIN t USING (user_id)
     GROUP BY c.user_id, t.tot""",
    ("ext", "A2", "entropy"),
)
def q_a30_behavior_entropy(spark, sf_dir):
    """Per-user behavioral entropy (Shannon, nats) over the
    event-type distribution — the diversity feature risk models pair
    with the count features (a bot hammering one action has H≈0; a
    browsing human is high-H). Cross-engine float discipline: each
    ``-p·ln p`` term is a single libm call quantized to 9 decimals and
    summed as DECIMAL (order-free; the per-user term count is bounded
    by the event-type alphabet), then cast to double once — the
    ngram_lm_score/RRF pattern. One shuffle: the per-(user, type)
    counts; the per-user total rides a window over those counts, and
    the final per-user fold groups on a subset of the same key."""
    c = _t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    tot = F.sum("__n").over(Window.partitionBy("user_id"))
    p = F.col("__n") / F.col("__tot")
    term = F.round(-p * F.log(p), 9).cast("decimal(18,9)")
    return (
        c.withColumn("__tot", tot)
        .groupBy("user_id", "__tot")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_event_types"),
            F.sum(term).cast("double").alias("entropy"),
        )
        .select(
            "user_id",
            F.col("__tot").cast("bigint").alias("n_events"),
            "n_event_types",
            "entropy",
        )
    )


@spec(
    "w13_gap_fill",
    f"""WITH daily AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS spend
        FROM orders
       WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 60
       GROUP BY 1, 2
    ), nxt AS (
      SELECT user_id, day, spend,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
        FROM daily
    )
    SELECT n.user_id,
           CAST(u.d AS DATE) AS day,
           CAST(CASE WHEN CAST(u.d AS DATE) = n.day THEN n.spend
                     ELSE 0 END AS BIGINT) AS spend_cents,
           CAST(u.d AS DATE) <> n.day AS is_filled
      FROM nxt n,
           unnest(generate_series(
             CAST(n.day AS TIMESTAMP),
             CAST(coalesce(n.next_day - 1, n.day) AS TIMESTAMP),
             INTERVAL 1 DAY)) AS u(d)""",
    ("ext", "W3", "gapfill"),
)
def q_w13_gap_fill(spark, sf_dir):
    """Calendar gap filling (`operators/windows.py::gap_fill`): daily
    per-user spend over the trailing 60 days, densified so every day
    between a user's first and last order carries an explicit
    zero-spend row — the shape rolling/decay features need. Join-free
    single shuffle: lead() finds each observed day's successor and the
    row explodes into itself plus its gap days (exact integer cents,
    boolean is_filled)."""
    from feature_store_spark.operators.windows import gap_fill

    ref = F.to_date(F.lit(REF_DATE))
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.date_sub(ref, 60))
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(cents).cast("bigint").alias("spend_cents"))
    )
    return gap_fill(daily, "user_id", "day", ["spend_cents"]).withColumn(
        "spend_cents", F.col("spend_cents").cast("bigint")
    )


@spec(
    "u4_except_keys",
    f"""SELECT o_custkey AS user_id FROM orders
         WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 90
       EXCEPT
       SELECT user_id FROM events""",
    ("U4",),
)
def q_u4(spark, sf_dir):
    """Key-set difference (SURVEY §2.7: INTERSECT/EXCEPT available):
    customers ordering recently but absent from the event stream."""
    ref = F.to_date(F.lit(REF_DATE))
    a = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.date_sub(ref, 90))
        .select(F.col("o_custkey").alias("user_id"))
    )
    b = _t(spark, sf_dir, "events").select("user_id")
    return a.subtract(b)  # EXCEPT (distinct) semantics, matching the SQL


# ---------------------------------------------------------------------------
# J8 — dynamic join assembly; F11 — ISO parse/format; P7 — parameterized
# ---------------------------------------------------------------------------


def assemble_features(spark, sf_dir, feature_types: list[str]):
    """J8: build the serving join for exactly the requested feature
    groups (reference's dynamic query builder,
    `docs/ADVANCED.md:325-391`). The reference hand-picks MV-vs-dynamic
    and join hints by key count; here AQE owns the physical strategy
    and the builder only assembles the logical plan."""
    base = q_user_features(spark, sf_dir).select("user_id", "segment")
    out = base
    if "transaction" in feature_types:
        out = out.join(
            q_transaction_features(spark, sf_dir).select(
                "user_id", "total_transactions_30d", "total_amount_30d"
            ),
            "user_id",
            "left",
        )
    if "risk" in feature_types:
        out = out.join(
            q_risk_features(spark, sf_dir).select(
                "user_id", "payment_delays_90d", "risk_score"
            ),
            "user_id",
            "left",
        )
    return out


@spec(
    "j8_dynamic_join",
    f"""WITH uf AS ({UF_SQL}), rf AS ({RF_SQL})
       SELECT uf.user_id, uf.segment,
              rf.payment_delays_90d, rf.risk_score
       FROM uf LEFT JOIN rf ON uf.user_id = rf.user_id""",
    ("J8",),
)
def q_j8(spark, sf_dir):
    return assemble_features(spark, sf_dir, ["risk"])


@spec(
    "f11_iso_roundtrip",
    """SELECT event_id,
              strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
              CAST(hour(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'),
                   '%Y-%m-%dT%H:%M:%S')) AS INTEGER) AS parsed_hour
       FROM events""",
    ("F11",),
)
def q_f11(spark, sf_dir):
    """ISO-8601 serialize + reparse (reference
    `src/feature_store/store.py:181-198` fromisoformat/isoformat)."""
    ev = _t(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    return ev.select(
        "event_id",
        iso.alias("iso_ts"),
        F.hour(F.to_timestamp(iso, "yyyy-MM-dd'T'HH:mm:ss"))
        .cast("int")
        .alias("parsed_hour"),
    )


def customers_above_order_threshold(spark, sf_dir, min_orders: int):
    """P7: parameterized predicate over derived features (reference
    `tests/benchmarks/database_comparison.py:168-178`)."""
    return (
        q_user_features(spark, sf_dir)
        .filter(F.col("total_orders") > min_orders)
        .select("user_id", "total_orders", "avg_order_value")
    )


@spec(
    "p7_parameterized_filter",
    f"""WITH uf AS ({UF_SQL})
       SELECT user_id, total_orders, avg_order_value
       FROM uf WHERE total_orders > 5""",
    ("P7",),
)
def q_p7(spark, sf_dir):
    return customers_above_order_threshold(spark, sf_dir, 5)


# ---------------------------------------------------------------------------
# Sessionization (beyond reference: gap-based sessions, the batch twin
# of the streaming F.session_window operator)
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30

@spec(
    "st7_session_features",
    f"""WITH flagged AS (
         SELECT user_id, event_id, ts, event_type, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(date_trunc('second', ts))
                        - epoch(date_trunc('second', lag(ts) OVER w))
                        >= {SESSION_GAP_MIN * 60}
                     THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ),
       sess AS (
         SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
         FROM flagged
       )
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
              count(*) AS n_events,
              date_trunc('second', min(ts)) AS session_start,
              date_trunc('second', max(ts)) AS session_end,
              COALESCE(CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (WHERE event_type = 'purchase') AS BIGINT), 0)
                AS spend_cents
       FROM sess GROUP BY user_id, session_id""",
    ("ext", "ST7", "W3"),
)
def q_st7_sessions(spark, sf_dir):
    """Per-user gap-based sessions with count / span / spend — the
    deterministic batch replay of streaming sessionization
    (`streaming/pipeline.py::session_windows_stream`); half-open gap
    boundary keeps both forms and the oracle in exact agreement."""
    from feature_store_spark.operators.windows import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, gap_minutes=SESSION_GAP_MIN)
    purch = F.col("event_type") == "purchase"
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        # second-truncated boundaries: the documented parity grain for
        # session comparisons, and what the streaming twin reports
        # (it truncates ts before grouping)
        F.date_trunc("second", F.min("ts")).alias("session_start"),
        F.date_trunc("second", F.max("ts")).alias("session_end"),
        F.coalesce(
            F.sum(F.when(purch, F.round(F.col("value") * 100).cast("bigint"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("spend_cents"),
    )


@spec(
    "w4_topk_orders_per_customer",
    """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
                  AS rank
         FROM orders
       ) WHERE rank <= 3""",
    ("W2", "O2", "ext"),
)
def q_w4_topk_per_group(spark, sf_dir):
    """Per-group top-k (top 3 orders per customer by price, ties by
    orderkey): one shuffle on the grouping key; Catalyst plans the
    rank filter as a WindowGroupLimit pushdown, so partitions only
    keep k rows per key rather than sorting everything."""
    from feature_store_spark.operators.windows import top_k_per_group

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return top_k_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
        rank_col="rank",
    )


# ---------------------------------------------------------------------------
# A16 — mergeable HLL sketch rollup (beyond reference)
# ---------------------------------------------------------------------------


@spec(
    "a16_hll_sketch_rollup",
    """SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
              CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                AS n_daily_partials,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
              abs(approx_count_distinct(user_id)
                  - count(DISTINCT user_id)) * 1.0
                / count(DISTINCT user_id) < 0.05 AS est_within_5pct
       FROM events
       GROUP BY 1""",
    ("A11", "A16", "ext"),
)
def q_a16_hll_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: daily HLL partials over the event
    stream, union-merged into weekly distinct-user estimates without
    rescanning raw events (extends reference
    `docs/PERFORMANCE.md:552-559` APPROX_COUNT_DISTINCT to the
    pre-aggregated form BigQuery gets from HLL_COUNT.INIT/MERGE).

    This is the 100 TB pattern for distinct counts: store one
    fixed-size sketch per (day, key) at ingest — reducing each raw
    partition once — then answer any coarser rollup (week / month /
    all-time) by merging sketches, a shuffle of kilobyte payloads
    instead of a rescan of terabytes. countDistinct on raw data is
    the verification control only; the hash-compared contract is the
    tolerance band (each engine's estimate within 5% of its own
    exact), as in a11, because sketch internals differ across
    engines.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    week = F.to_date(F.date_trunc("week", F.col("day"))).alias("week")
    # ONE raw scan at scale (round 10, guide §1.2/§6): the sketch path
    # and the exact-verification path both hang off the same per-(day,
    # user) dedup aggregate, materialized once (lazy localCheckpoint —
    # the deduped rows are |users|×|days|, far smaller than raw
    # events; Catalyst's per-branch column pruning otherwise re-plans
    # the subtree twice and re-scans the corpus). HLL registers are
    # duplicate-insensitive, so sketching the deduped rows yields
    # bit-identical estimates to sketching raw events; countDistinct
    # per week over (day, user) rows is the same distinct set. On the
    # user-bucketed store the dedup itself needs NO exchange (same
    # user ⇒ same bucket ⇒ (day, user) is bucket-local).
    # ADAPTIVE (round 11, VERDICT r10 item 5): below
    # _CHECKPOINT_MIN_INPUT_BYTES of raw events the materialization
    # round-trip costs more than the second scan it saves (+12%
    # measured at sf0.1), so small inputs keep the two-scan plan and
    # large ones keep the one-raw-pass plan.
    base = _checkpoint_if_large(ev.distinct(), sf_dir, "events")
    daily = base.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly = daily.groupBy(week).agg(
        F.count(F.lit(1)).alias("n_daily_partials"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = base.groupBy(week).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return weekly.join(exact, "week").select(
        "week",
        "n_daily_partials",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            / F.col("exact_users")
            < 0.05
        ).alias("est_within_5pct"),
    )


# ---------------------------------------------------------------------------
# A17 — explicit GROUPING SETS; U5 — INTERSECT (complete the §2.4/§2.7
# "available in Spark" families alongside rollup/cube and EXCEPT)
# ---------------------------------------------------------------------------


@spec(
    "a17_grouping_sets",
    """SELECT n.n_name AS nation, c.c_mktsegment AS segment,
              count(*) AS n_customers,
              CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                AS balance_cents
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY GROUPING SETS ((n.n_name), (c.c_mktsegment))""",
    ("A14", "grouping-sets"),
)
def q_a17_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS: just the two one-dimensional margins —
    a set CUBE computes but ROLLUP can't express, and CUBE would pad
    with the (nation, segment) cross that isn't wanted here. Same
    single-pass expand+partial-aggregate physical shape as a14/a15:
    one shuffle regardless of how many sets are declared."""
    return (
        _nation_segment_cents(spark, sf_dir)
        .groupingSets([["nation"], ["segment"]], "nation", "segment")
        .agg(*_marginal_aggs())
    )


@spec(
    "u5_intersect_keys",
    """SELECT o_custkey AS user_id
       FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
       INTERSECT
       SELECT o_custkey AS user_id
       FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-01'""",
    ("U4", "U5"),
)
def q_u5_intersect(spark, sf_dir):
    """Key-set intersection (SURVEY §2.7: INTERSECT available):
    customers active both before and since 1995 — retention cohort.
    Distinct semantics on both engines; planned as a left-semi join
    over pre-deduplicated sides, one shuffle per side."""
    o = _t(spark, sf_dir, "orders")
    since = o.filter(F.to_date("o_orderdate") >= F.lit("1995-01-01")).select(
        F.col("o_custkey").alias("user_id")
    )
    before = o.filter(F.to_date("o_orderdate") < F.lit("1995-01-01")).select(
        F.col("o_custkey").alias("user_id")
    )
    return since.intersect(before)


@spec(
    "a18_algebraic_rollup",
    """SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT))
                   FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
                AS spend_cents,
              date_trunc('second', min(ts)) AS first_ts,
              date_trunc('second', max(ts)) AS last_ts
       FROM events
       GROUP BY 1""",
    ("A16", "A18", "ext"),
)
def q_a18_algebraic_rollup(spark, sf_dir):
    """EXACT mergeable rollup — the algebraic complement of a16's
    sketches: store per-day (count, sum, min, max) partials once, then
    answer any coarser window by re-aggregating partials (sum of sums,
    min of mins …), never rescanning raw rows. count/sum/min/max are
    algebraic, so the merge is lossless; the oracle aggregates the
    raw table directly and must hash-match exactly (integer cents).
    At 100 TB this is the materialized-rollup layer every BI stack
    builds on partitioned stores: the weekly query reads ~daily-row
    partials instead of raw events."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("bigint"),
        ).alias("cents"),
    )
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents"),
        F.min("ts_s").alias("min_ts"),
        F.max("ts_s").alias("max_ts"),
    )
    return daily.groupBy(
        F.to_date(F.date_trunc("week", F.col("day"))).alias("week")
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("spend_cents"),
        F.min("min_ts").alias("first_ts"),
        F.max("max_ts").alias("last_ts"),
    )


_A23_CUTOFF = "2024-01-25"


@spec(
    "a23_incremental_rollup",
    # the oracle recomputes the weekly rollup FROM SCRATCH over all
    # raw events (a18's SQL) — hash equality therefore proves the
    # incremental-maintenance path (stored partials + late-data batch
    # merge, never rescanning history) is lossless, the strongest
    # check an IVM step can get
    """SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
              CAST(count(*) AS BIGINT) AS n_events,
              CAST(COALESCE(sum(CAST(round(value * 100) AS BIGINT))
                   FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT)
                AS spend_cents,
              date_trunc('second', min(ts)) AS first_ts,
              date_trunc('second', max(ts)) AS last_ts
       FROM events
       GROUP BY 1""",
    ("A18", "A23", "ext", "ivm"),
)
def q_a23_incremental_rollup(spark, sf_dir):
    """Incremental rollup maintenance (IVM — the a18 partial store
    made continuous): history's per-day partials are UPDATED with a
    new batch that contains both new days and LATE rows for already-
    stored days (`operators/aggregates.py::update_algebraic_partials`,
    touched_only semi-join → only batch-touched days re-merge, the
    dynamic-partition-overwrite footprint), then untouched ∪ updated
    partials roll up to weeks. The oracle aggregates all raw events
    from scratch — equality proves maintenance is lossless. At 100 TB
    the batch merge reads O(|batch| + touched partial rows), never
    raw history."""
    from feature_store_spark.operators.aggregates import (
        update_algebraic_partials,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.to_date("ts").alias("day"),
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("bigint"),
        ).alias("cents"),
    )
    # late rows (event_id % 50 == 0) arrive with the new batch even
    # though their event day is already in the partial store
    late = F.col("event_id") % 50 == 0
    recent = F.col("day") >= F.lit(_A23_CUTOFF)
    batch_rows = ev.filter(late | recent)
    hist_rows = ev.filter(~late & ~recent)

    def daily(rows):
        return rows.groupBy("day").agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("cents"),
            F.min("ts_s").alias("min_ts"),
            F.max("ts_s").alias("max_ts"),
        )

    spec_map = {"n": "sum", "cents": "sum", "min_ts": "min", "max_ts": "max"}
    stored = daily(hist_rows)
    updated = update_algebraic_partials(
        stored, daily(batch_rows), ["day"], spec_map, touched_only=True
    )
    untouched = stored.join(
        batch_rows.select("day").distinct(), ["day"], "left_anti"
    )
    parts = untouched.unionByName(updated)
    return parts.groupBy(
        F.to_date(F.date_trunc("week", F.col("day"))).alias("week")
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("spend_cents"),
        F.min("min_ts").alias("first_ts"),
        F.max("max_ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# A19 — mergeable histogram-sketch percentile rollup (beyond reference)
# ---------------------------------------------------------------------------

# 20 log10 buckets per decade → every bucket spans a ×10^0.05 ≈ 12%
# value range, so the midpoint estimate is within ~6% of any value in
# the bucket. Non-positive (or NULL) values land in one sentinel
# bucket: DuckDB's log10 RAISES on 0 where Spark returns NULL (caught
# at sf0.1, which has value=0 rows), so the guard must live in the
# bucket expression on BOTH engines.
_A19_BPD = 20
_A19_ZERO_BUCKET = -10_000


@spec(
    "a19_quantile_sketch_rollup",
    f"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CASE WHEN value > 0
                     THEN CAST(floor(log10(value) * {_A19_BPD}) AS BIGINT)
                     ELSE {_A19_ZERO_BUCKET} END AS bucket,
                count(*) AS cnt
         FROM events GROUP BY 1, 2
       ),
       weekly AS (
         SELECT date_trunc('week', day) AS week, bucket, sum(cnt) AS cnt
         FROM daily GROUP BY 1, 2
       ),
       cum AS (
         SELECT week, bucket, cnt,
                sum(cnt) OVER (PARTITION BY week ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS running,
                sum(cnt) OVER (PARTITION BY week) AS total
         FROM weekly
       ),
       est AS (
         SELECT week, CAST(total AS BIGINT) AS n_events,
                round(pow(10, (min(bucket) + 0.5) / {_A19_BPD}), 6)
                  AS est_p50
         FROM cum WHERE running * 2 >= total
         GROUP BY week, total
       ),
       exact AS (
         SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
                quantile_cont(value, 0.5) AS exact_p50
         FROM events GROUP BY 1
       )
       SELECT e.week, n_events, est_p50,
              abs(est_p50 - exact_p50) / exact_p50 < 0.10
                AS est_within_10pct
       FROM est e JOIN exact x ON e.week = x.week""",
    ("A11", "A16", "A19", "ext"),
)
def q_a19_quantile_rollup(spark, sf_dir):
    """Mergeable percentile rollup: per-(day, log-bucket) counts are
    the stored sketch — a fixed-size algebraic summary per day —
    and any coarser percentile (week here) is answered by SUMMING
    bucket counts and walking the merged histogram, never rescanning
    raw events. The 100 TB shape for percentile dashboards, same
    pattern as the a16 HLL rollup but for quantiles: ingest reduces
    each partition once; rollups shuffle kilobytes. Unlike
    percentile_approx partials (opaque, not user-mergeable), the
    histogram is mergeable by construction in ANY engine, which is
    also what makes the oracle exact on the estimate itself — the
    hash-compared contract is the deterministic bucket estimate plus
    a tolerance flag against each engine's own exact median (float
    interpolation differs across engines; the sketch does not).
    """
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    daily = ev.groupBy(
        "day",
        F.when(
            F.col("value") > 0,
            F.floor(F.log10("value") * _A19_BPD).cast("bigint"),
        )
        .otherwise(F.lit(_A19_ZERO_BUCKET))
        .alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    week = F.to_date(F.date_trunc("week", F.col("day"))).alias("week")
    weekly = daily.groupBy(week, F.col("bucket")).agg(
        F.sum("cnt").alias("cnt")
    )
    w_cum = (
        Window.partitionBy("week")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("week")
    cum = weekly.select(
        "week",
        "bucket",
        F.sum("cnt").over(w_cum).alias("running"),
        F.sum("cnt").over(w_tot).alias("total"),
    )
    est = (
        cum.filter(F.col("running") * 2 >= F.col("total"))
        .groupBy("week", "total")
        .agg(
            F.round(
                F.pow(F.lit(10.0), (F.min("bucket") + 0.5) / _A19_BPD), 6
            ).alias("est_p50")
        )
        .select(
            "week",
            F.col("total").cast("bigint").alias("n_events"),
            "est_p50",
        )
    )
    exact = (
        _t(spark, sf_dir, "events")
        .select(
            F.to_date(F.date_trunc("week", F.to_date("ts"))).alias("week"),
            "value",
        )
        .groupBy("week")
        .agg(F.expr("percentile(value, 0.5)").alias("exact_p50"))
    )
    return est.join(exact, "week").select(
        "week",
        "n_events",
        "est_p50",
        (
            F.abs(F.col("est_p50") - F.col("exact_p50"))
            / F.col("exact_p50")
            < 0.10
        ).alias("est_within_10pct"),
    )


# ---------------------------------------------------------------------------
# A25 — mergeable heavy-hitter (SpaceSaving-style) rollup
# ---------------------------------------------------------------------------

_A25_M = 20  # keys kept per daily summary
_A25_TOPK = 10  # reported per week


@spec(
    "a25_heavy_hitter_rollup",
    f"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n
         FROM events GROUP BY 1, 2
       ),
       ranked AS (
         SELECT *, row_number() OVER (PARTITION BY day
                    ORDER BY n DESC, user_id ASC) AS rk
         FROM daily
       ),
       kept AS (SELECT day, user_id, n FROM ranked WHERE rk <= {_A25_M}),
       thr AS (
         SELECT day,
                COALESCE(max(CASE WHEN rk > {_A25_M} THEN n END), 0) AS thr
         FROM ranked GROUP BY day
       ),
       week_thr AS (
         SELECT date_trunc('week', day) AS week,
                CAST(sum(thr) AS BIGINT) AS bound
         FROM thr GROUP BY 1
       ),
       est AS (
         SELECT date_trunc('week', day) AS week, user_id,
                CAST(sum(n) AS BIGINT) AS est
         FROM kept GROUP BY 1, 2
       ),
       truth AS (
         SELECT date_trunc('week', CAST(ts AS DATE)) AS week, user_id,
                CAST(count(*) AS BIGINT) AS true_n
         FROM events GROUP BY 1, 2
       )
       SELECT week, user_id, est, true_n,
              true_n - est AS underestimate, bound,
              (true_n - est) <= bound AS within_bound, rank
       FROM (
         SELECT e.week, e.user_id, e.est, t.true_n, w.bound,
                row_number() OVER (PARTITION BY e.week
                  ORDER BY e.est DESC, e.user_id ASC) AS rank
         FROM est e
         JOIN truth t ON e.week = t.week AND e.user_id = t.user_id
         JOIN week_thr w ON e.week = w.week
       ) WHERE rank <= {_A25_TOPK}""",
    ("A11", "A16", "A19", "ext", "heavy-hitters"),
)
def q_a25_heavy_hitter_rollup(spark, sf_dir):
    """Mergeable heavy-hitter rollup — the third classic sketch beside
    a16 (HLL distinct) and a19 (quantile histogram): each day stores
    only its top-{M} (user, count) pairs plus ONE threshold (the
    largest dropped count — the SpaceSaving error certificate), and
    the weekly top-10 is answered from those fixed-size daily
    summaries. The undercount of any reported key is provably ≤ the
    sum of thresholds of the days it missed, surfaced here as
    (underestimate, bound, within_bound) against the raw truth — every
    column integer-exact and window-deterministic, so the oracle
    hash-compares the whole certificate, not a tolerance band. At
    100 TB the daily summaries are KB-sized; the rollup never rescans
    events (the truth join here exists only to exhibit the bound)."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_day = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    ranked = daily.withColumn("rk", F.row_number().over(w_day))
    kept = ranked.filter(F.col("rk") <= _A25_M)
    thr = ranked.groupBy("day").agg(
        F.coalesce(
            F.max(F.when(F.col("rk") > _A25_M, F.col("n"))), F.lit(0)
        ).alias("thr")
    )
    week = lambda c: F.to_date(F.date_trunc("week", F.col(c)))  # noqa: E731
    week_thr = thr.groupBy(week("day").alias("week")).agg(
        F.sum("thr").cast("bigint").alias("bound")
    )
    est = kept.groupBy(week("day").alias("week"), F.col("user_id")).agg(
        F.sum("n").cast("bigint").alias("est")
    )
    truth = (
        _t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .groupBy(week("day").alias("week"), F.col("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    )
    w_week = Window.partitionBy("week").orderBy(
        F.col("est").desc(), F.col("user_id").asc()
    )
    return (
        est.join(truth, ["week", "user_id"])
        .join(week_thr, "week")
        .withColumn("rank", F.row_number().over(w_week))
        .filter(F.col("rank") <= _A25_TOPK)
        .select(
            "week",
            "user_id",
            "est",
            "true_n",
            (F.col("true_n") - F.col("est")).alias("underestimate"),
            "bound",
            ((F.col("true_n") - F.col("est")) <= F.col("bound")).alias(
                "within_bound"
            ),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# L1: Z-order clustering key (multi-dimensional layout)
# ---------------------------------------------------------------------------


def _l1_oracle() -> str:
    from feature_store_spark.operators.layout import zorder_key_oracle_sql

    return zorder_key_oracle_sql(
        "(SELECT o_orderkey, o_custkey,"
        " CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents"
        " FROM orders)",
        ["o_custkey", "price_cents"],
        select_cols=["o_orderkey", "o_custkey", "price_cents"],
    )


@spec("l1_zorder_key", _l1_oracle(), ("ext", "layout"))
def q_l1_zorder(spark, sf_dir):
    """Z-order clustering key over (customer, exact price cents) — the
    Delta/Iceberg OPTIMIZE ZORDER primitive as exact bigint arithmetic
    (`operators/layout.py::zorder_key`). The key drives
    `cluster_by_zorder`'s range-partition+sort write so parquet
    row-group min/max stats prune box filters on BOTH dimensions; the
    oracle proves the key itself is engine-exact."""
    from feature_store_spark.operators.layout import zorder_key

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
    )
    return zorder_key(orders, ["o_custkey", "price_cents"])


@spec(
    "w11_funnel_windowed",
    """WITH ev AS (SELECT user_id, date_trunc('second', ts) AS tss,
                          event_type
                   FROM events),
    v AS (SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN tss END) AS t_view
          FROM ev GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.tss) AS t_click
          FROM ev e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.tss >= v.t_view
            AND e.tss <= v.t_view + INTERVAL 86400 SECOND
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.tss) AS t_purchase
          FROM ev e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.tss >= c.t_click
            AND e.tss <= c.t_click + INTERVAL 604800 SECOND
          GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_depth
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id""",
    ("ext", "W3", "funnel"),
)
def q_w11_funnel_windowed(spark, sf_dir):
    """W10's funnel with CONVERSION WINDOWS (the max_gap knob of
    `operators.windows.funnel`): a click only counts within 1 day of
    the first view, a purchase within 7 days of that click — the
    time-bounded attribution every product-analytics funnel actually
    runs. Same single-Exchange chained-window-min plan; only the
    per-row predicates change. The oracle is the join-per-stage
    formulation with the same bounds, so the driver hash-checks the
    window semantics cross-engine."""
    from feature_store_spark.operators.windows import funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("second", F.col("ts")).alias("tss"),
        "event_type",
    )
    return funnel(
        ev,
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        ts_col="tss",
        max_gap=[86400, 604800],
    )


ALERT_RULES = [
    # the reference's PromQL ladder shape (warning + critical on the
    # same gauge, monitoring/alerts/api_alerts.yml) over the engine's
    # data-quality gauges; liveness ("up == 0") becomes a count metric
    {"rule": "completeness_text_warning", "metric": "completeness_text",
     "op": "<", "threshold": 0.95, "severity": "warning"},
    {"rule": "completeness_text_critical", "metric": "completeness_text",
     "op": "<", "threshold": 0.80, "severity": "critical"},
    {"rule": "completeness_lang_warning", "metric": "completeness_lang",
     "op": "<", "threshold": 0.95, "severity": "warning"},
    {"rule": "freshness_24h_warning", "metric": "fresh_ratio_24h",
     "op": "<", "threshold": 0.50, "severity": "warning"},
    {"rule": "orders_present_critical", "metric": "orders_row_count",
     "op": "<", "threshold": 1.0, "severity": "critical"},
]

_ALERT_VALUES = ", ".join(
    "('{rule}', '{metric}', '{op}', {threshold}, '{severity}')".format(**r)
    for r in ALERT_RULES
)


@spec(
    "alert_rules",
    f"""WITH m AS (
      SELECT 'completeness_text' AS metric,
             count(text) / count(*) AS value FROM documents
      UNION ALL SELECT 'completeness_lang',
             count(lang) / count(*) FROM documents
      UNION ALL SELECT 'fresh_ratio_24h',
             count(*) FILTER (WHERE ts >= {SQL_NOW} - INTERVAL 24 HOUR)
               / count(*) FROM events
      UNION ALL SELECT 'orders_row_count',
             CAST(count(*) AS DOUBLE) FROM orders
    ), r(rule, metric, op, threshold, severity) AS (
      VALUES {_ALERT_VALUES}
    )
    SELECT r.rule, r.severity, r.metric, m.value AS value,
           CAST(r.threshold AS DOUBLE) AS threshold,
           COALESCE(CASE WHEN r.op = '<' THEN m.value < r.threshold
                         WHEN r.op = '>' THEN m.value > r.threshold
                         WHEN r.op = '<=' THEN m.value <= r.threshold
                         WHEN r.op = '>=' THEN m.value >= r.threshold
                         ELSE m.value = r.threshold END,
                    FALSE) AS firing
    FROM r LEFT JOIN m USING (metric)""",
    ("ext", "A8", "A9", "alerts"),
)
def q_alert_rules(spark, sf_dir):
    """Alert-rule evaluation (VERDICT r5 item 8): the reference ships
    PromQL threshold alerts (`monitoring/alerts/api_alerts.yml:1-22`);
    the engine's queryable analogue evaluates declarative rules over
    its data-quality gauges — completeness ratios (documents),
    24h freshness ratio (events, injected now), and a liveness-style
    row-count — emitting (rule, severity, metric, value, threshold,
    firing). The gauges are single-aggregate jobs; the rule join is a
    broadcast of two tiny frames (`operators.aggregates.
    evaluate_alerts`)."""
    from feature_store_spark.operators.aggregates import evaluate_alerts

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    total = F.count(F.lit(1))
    m_docs = docs.agg(
        (F.count("text") / total).alias("completeness_text"),
        (F.count("lang") / total).alias("completeness_lang"),
    ).selectExpr(
        "stack(2, 'completeness_text', completeness_text, "
        "'completeness_lang', completeness_lang) as (metric, value)"
    )
    fresh_cut = F.to_timestamp(F.lit(EVENTS_NOW)) - F.expr(
        "INTERVAL 24 HOURS"
    )
    m_events = events.agg(
        (F.count(F.when(F.col("ts") >= fresh_cut, 1)) / total).alias(
            "value"
        )
    ).select(F.lit("fresh_ratio_24h").alias("metric"), "value")
    m_orders = orders.agg(total.cast("double").alias("value")).select(
        F.lit("orders_row_count").alias("metric"), "value"
    )
    metrics = m_docs.unionByName(m_events).unionByName(m_orders)
    return evaluate_alerts(metrics, ALERT_RULES)


def _w12_oracle():
    from feature_store_spark.operators.aggregates import (
        cohort_retention_oracle_sql,
    )

    return cohort_retention_oracle_sql(granularity="day")


@spec("w12_cohort_retention", _w12_oracle(), ("ext", "analytics", "cohort"))
def q_w12_cohort_retention(spark, sf_dir):
    """Daily cohort retention matrix over the events table — cohort =
    day of a user's first event, one row per (cohort, day offset) with
    the active-user count and the exact-division retention rate (see
    operators/aggregates.py::cohort_retention; daily granularity
    because the dense synthetic corpus is degenerate at weekly)."""
    from feature_store_spark.operators.aggregates import cohort_retention

    return cohort_retention(
        load_table(spark, sf_dir, "events"), granularity="day"
    )


def _a27_oracle():
    from feature_store_spark.operators.aggregates import (
        ab_test_report_oracle_sql,
    )

    return ab_test_report_oracle_sql()


@spec("a27_ab_test_report", _a27_oracle(), ("ext", "analytics", "abtest"))
def q_a27_ab_test_report(spark, sf_dir):
    """A/B experiment readout: deterministic md5 50/50 bucketing over
    event users, conversion = a purchase worth >= 100, per-variant
    rates (exact integer division) plus the shared two-proportion
    z-score computed through the identical IEEE expression tree on
    both engines (operators/aggregates.py::ab_test_report)."""
    from feature_store_spark.operators.aggregates import ab_test_report

    return ab_test_report(load_table(spark, sf_dir, "events"))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@spec(
    "a28_pivot_event_matrix",
    f"""
    SELECT user_id,
           {', '.join(
               "CAST(count(*) FILTER (WHERE event_type = '" + t + "') "
               "AS BIGINT) AS " + t
               for t in EVENT_TYPES
           )}
    FROM events GROUP BY user_id
    """,
    ("ext", "analytics", "pivot"),
)
def q_a28_pivot_event_matrix(spark, sf_dir):
    """PIVOT: the per-user event-type count matrix — groupBy().pivot()
    with an EXPLICIT value list (no discovery scan, deterministic
    column order; Spark's two-scan pivot-value inference is exactly
    what you don't run at 100 TB). Null cells coalesce to 0, matching
    the oracle's conditional counts."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
            for t in EVENT_TYPES
        ],
    )


@spec(
    "a29_exact_percentiles",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90
    FROM events GROUP BY event_type
    """,
    ("ext", "analytics", "percentile"),
)
def q_a29_exact_percentiles(spark, sf_dir):
    """EXACT grouped percentiles (linear interpolation) next to the
    approx family (A11/A19): Spark `percentile` and DuckDB
    `quantile_cont` share the interpolation definition, so the doubles
    hash-match with no rounding contract. The exact form costs a
    per-group sort — the approx sketches are the 100 TB default; this
    is the small-group/high-stakes variant (SLA reporting)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr("percentile(value, 0.25D)").alias("p25"),
        F.expr("percentile(value, 0.5D)").alias("p50"),
        F.expr("percentile(value, 0.9D)").alias("p90"),
    )
