"""The SURVEY.md §2 operator sweep: every query the engine claims,
as (PySpark callable, DuckDB oracle SQL) pairs.

Each entry is registered with @spec; ``__spark_entry__.py`` exposes
the registry to the driver. Naming convention follows SURVEY §2 ids.
Every computed column is aliased identically in both engines, and
aggregated doubles are explicitly ROUND()ed on BOTH sides (avg/ratio
→ 4 digits, sums → 2) so cross-engine float-summation-order noise
cannot flip the value hash; raw passthrough columns stay unrounded
(bit-identical by construction).

Anchors: REF_DATE 2001-08-01 for order/lineitem windows, EVENTS_NOW
2024-01-31 for event windows (tables.py; never wall clock).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_spark.functions.scalars import is_night, is_weekend, safe_ratio
from feature_store_spark.operators.aggregates import (
    completeness_report,
    decayed_aggregate,
    decayed_aggregate_oracle_sql,
    freshness_report,
    mode_deterministic,
    stats_with_outliers,
)
from feature_store_spark.operators.joins import band_join
from feature_store_spark.operators.sampling import (
    dataset_split,
    dataset_split_oracle_sql,
    negative_samples_oracle_sql,
    priority_sample,
    priority_sample_oracle_sql,
    stratified_sample,
    stratified_sample_oracle_sql,
)
from feature_store_spark.operators.windows import asof_join, latest_per_key, top_k
from feature_store_spark.pipelines.features import (
    derive_risk_features,
    derive_transaction_features,
    derive_user_features,
    serving_features,
    serving_join,
)
from feature_store_spark.tables import EVENTS_NOW, REF_DATE, load_table


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → non-SQL-expressible, rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Bench-only oracle twins for queries whose Spark side reads a
    # deployed (pre-materialized) artifact: ``bench_setup`` runs
    # UNTIMED once to build the DuckDB equivalent, ``bench_sql`` is
    # the timed query over it — keeping the two engines' timed
    # regions symmetric. Correctness always uses ``sql``.
    bench_setup: str | None = None
    bench_sql: str | None = None


SPECS: dict[str, QuerySpec] = {}


def spec(
    name: str,
    sql: str | None,
    tags: tuple[str, ...] = (),
    bench_setup: str | None = None,
    bench_sql: str | None = None,
):
    def deco(fn):
        SPECS[name] = QuerySpec(name, fn, sql, tags, bench_setup, bench_sql)
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# SQL anchor fragments (DuckDB dialect).
SQL_REF = f"DATE '{REF_DATE}'"
SQL_NOW = f"TIMESTAMP '{EVENTS_NOW}'"

# ---------------------------------------------------------------------------
# Feature-derivation pipelines (SURVEY §3.2; the flagship surface)
# ---------------------------------------------------------------------------

UF_SQL = f"""
WITH completed AS (
  SELECT * FROM orders WHERE o_orderstatus IN ('F', 'O')
), stats AS (
  SELECT o_custkey, count(*) AS n,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s1,
         min(o_orderdate) AS fo
  FROM completed GROUP BY o_custkey
), pref AS (
  SELECT o_custkey, o_orderpriority FROM (
    SELECT o_custkey, o_orderpriority,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
    FROM completed GROUP BY o_custkey, o_orderpriority
  ) t WHERE rn = 1
)
SELECT c.c_custkey AS user_id,
       c.c_name AS name,
       c.c_mktsegment AS segment,
       c.c_acctbal AS account_balance,
       COALESCE(s.n, 0) AS total_orders,
       COALESCE(s.s1 / 100.0 / s.n, 0.0) AS avg_order_value,
       CAST(CASE WHEN s.fo IS NULL THEN NULL
            ELSE date_diff('day', CAST(s.fo AS DATE), {SQL_REF}) END AS INTEGER)
         AS days_since_first_order,
       p.o_orderpriority AS preferred_payment_method
FROM customer c
LEFT JOIN stats s ON c.c_custkey = s.o_custkey
LEFT JOIN pref p ON c.c_custkey = p.o_custkey
"""


@spec("pipeline_user_features", UF_SQL, ("pipeline", "J1", "J3", "A1", "A4", "F1", "F2", "F4"))
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_user_features(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        orders_custkey=_t(spark, sf_dir, "orders_by_custkey"),
        # mergeable ingest-time rollup (round 11): the two orders
        # aggregates run over customer-bounded summary rows instead of
        # the raw order history; flat mode computes the identical
        # aggregate in-plan (layout-independent, facts.py)
        orders_stats=_t(spark, sf_dir, "orders_user_stats"),
    )


def tf_sql(ref: str = SQL_REF) -> str:
    """Transaction-features oracle, parameterized by the anchor
    date (F8): the snapshot-diff spec runs it at two dates."""
    return f"""
WITH scan AS (
  SELECT * FROM orders
  WHERE CAST(o_orderdate AS DATE) >= {ref} - 31
), feats AS (
  SELECT user_id, total_transactions_30d,
    COALESCE(s1_30d, 0) / 100.0 AS total_amount_30d,
    s1_30d / 100.0 / total_transactions_30d AS avg_transaction_amount,
    max_transaction_amount, transactions_declined_30d,
    weekend_transaction_ratio, night_transaction_ratio
  FROM (
    SELECT o_custkey AS user_id,
      count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {ref} - 30)
        AS total_transactions_30d,
      sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (
        WHERE CAST(o_orderdate AS DATE) >= {ref} - 30) AS s1_30d,
      max(o_totalprice) FILTER (
        WHERE CAST(o_orderdate AS DATE) >= {ref} - 30)
        AS max_transaction_amount,
      count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {ref} - 30
                       AND o_orderstatus = 'P') AS transactions_declined_30d,
      count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {ref} - 30
                       AND dayofweek(o_orderdate) IN (0, 6))
        / NULLIF(count(*) FILTER (
            WHERE CAST(o_orderdate AS DATE) >= {ref} - 30), 0)
        AS weekend_transaction_ratio,
      count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {ref} - 30
                       AND (hour(o_orderdate) >= 22 OR hour(o_orderdate) <= 6))
        / NULLIF(count(*) FILTER (
            WHERE CAST(o_orderdate AS DATE) >= {ref} - 30), 0)
        AS night_transaction_ratio
    FROM scan GROUP BY o_custkey
    HAVING count(*) FILTER (
      WHERE CAST(o_orderdate AS DATE) >= {ref} - 30) > 0
  ) raw
), merch AS (
  SELECT o.o_custkey AS user_id,
         count(DISTINCT l.l_suppkey) AS unique_merchants_30d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= {ref} - 30
  GROUP BY o.o_custkey
)
SELECT f.user_id, f.total_transactions_30d, f.total_amount_30d,
       f.avg_transaction_amount, f.max_transaction_amount,
       f.transactions_declined_30d, f.weekend_transaction_ratio,
       f.night_transaction_ratio,
       COALESCE(m.unique_merchants_30d, 0) AS unique_merchants_30d
FROM feats f LEFT JOIN merch m ON f.user_id = m.user_id
"""


TF_SQL = tf_sql()


@spec("pipeline_transaction_features", TF_SQL, ("pipeline", "S1", "A2", "A3", "A5", "A6", "F3", "F5", "F6", "P6"))
def q_transaction_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_transaction_features(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        orders_custkey=_t(spark, sf_dir, "orders_by_custkey"),
        lineitem_custkey=_t(spark, sf_dir, "lineitem_by_custkey"),
    )


DIFF_OLD_REF = "2001-07-25"  # REF_DATE - 7: the prior pipeline run
_TF_COLS = (
    "total_transactions_30d", "total_amount_30d",
    "avg_transaction_amount", "max_transaction_amount",
    "transactions_declined_30d", "weekend_transaction_ratio",
    "night_transaction_ratio", "unique_merchants_30d",
)


def _j11_oracle():
    from feature_store_spark.operators.diff import snapshot_diff_oracle_sql

    return snapshot_diff_oracle_sql(
        tf_sql(f"DATE '{DIFF_OLD_REF}'"),
        tf_sql(),
        ["user_id"],
        _TF_COLS,
    )


@spec("j11_snapshot_diff", _j11_oracle(), ("ext", "J2", "SV7", "diff"))
def q_j11_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level data-diff between two transaction-feature snapshots
    (pipeline runs 7 days apart): added/removed/changed/unchanged per
    user with the changed column names — the migration/backfill
    validation check (`operators/diff.py::snapshot_diff`) promoted
    from the reference's count/spot validation. One key-hashed join;
    bucketed stores make it shuffle-free."""
    from feature_store_spark.operators.diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    old = derive_transaction_features(orders, lineitem, ref_date=DIFF_OLD_REF)
    new = derive_transaction_features(orders, lineitem)
    return snapshot_diff(old, new, ["user_id"], _TF_COLS)


RF_SQL = f"""
WITH pay AS (
  SELECT o.o_custkey AS user_id,
    count(*) FILTER (
      WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
      AND CAST(l.l_shipdate AS DATE) >= {SQL_REF} - 30) AS payment_delays_30d,
    count(*) FILTER (
      WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
      AS payment_delays_90d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= {SQL_REF} - 90
  GROUP BY o.o_custkey
), failed AS (
  SELECT o_custkey AS user_id, count(*) AS failed_payments_count
  FROM orders
  WHERE o_orderstatus = 'P'
    AND CAST(o_orderdate AS DATE) >= CAST({SQL_REF} - INTERVAL 24 MONTH AS DATE)
  GROUP BY o_custkey
), ev30 AS (
  SELECT * FROM events WHERE ts >= {SQL_NOW} - INTERVAL 30 DAY
), behavior AS (
  SELECT user_id,
         count(DISTINCT event_type) AS device_changes_30d,
         count(DISTINCT props) AS login_locations_30d,
         count(*) FILTER (WHERE event_type = 'error') AS velocity_alerts_30d
  FROM ev30 GROUP BY user_id
), latest AS (
  SELECT user_id, value AS risk_score FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase'
  ) t WHERE rn = 1
), active AS (
  SELECT DISTINCT user_id FROM (
    SELECT o_custkey AS user_id FROM orders
      WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 90
    UNION ALL SELECT user_id FROM pay
    UNION ALL SELECT user_id FROM ev30
  ) u
)
SELECT a.user_id,
       COALESCE(p.payment_delays_30d, 0) AS payment_delays_30d,
       COALESCE(p.payment_delays_90d, 0) AS payment_delays_90d,
       COALESCE(f.failed_payments_count, 0) AS failed_payments_count,
       COALESCE(b.device_changes_30d, 0) AS device_changes_30d,
       COALESCE(b.login_locations_30d, 0) AS login_locations_30d,
       COALESCE(b.velocity_alerts_30d, 0) AS velocity_alerts_30d,
       l2.risk_score AS risk_score
FROM active a
LEFT JOIN pay p ON a.user_id = p.user_id
LEFT JOIN failed f ON a.user_id = f.user_id
LEFT JOIN behavior b ON a.user_id = b.user_id
LEFT JOIN latest l2 ON a.user_id = l2.user_id
"""


@spec("pipeline_risk_features", RF_SQL, ("pipeline", "J2", "U1", "W1", "A2", "A3"))
def q_risk_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_risk_features(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "events"),
        orders_custkey=_t(spark, sf_dir, "orders_by_custkey"),
        lineitem_custkey=_t(spark, sf_dir, "lineitem_by_custkey"),
    )


SERVING_SQL = f"""
WITH uf AS ({UF_SQL}), tf AS ({TF_SQL}), rf AS ({RF_SQL})
SELECT uf.user_id, uf.name, uf.segment, uf.account_balance,
       uf.total_orders, uf.avg_order_value, uf.days_since_first_order,
       uf.preferred_payment_method,
       tf.total_transactions_30d, tf.total_amount_30d,
       tf.avg_transaction_amount, tf.max_transaction_amount,
       tf.transactions_declined_30d, tf.weekend_transaction_ratio,
       tf.night_transaction_ratio, tf.unique_merchants_30d,
       rf.payment_delays_30d, rf.payment_delays_90d,
       rf.failed_payments_count, rf.device_changes_30d,
       rf.login_locations_30d, rf.velocity_alerts_30d, rf.risk_score
FROM uf
LEFT JOIN tf ON uf.user_id = tf.user_id
LEFT JOIN rf ON uf.user_id = rf.user_id
"""


@spec("pipeline_serving_join", SERVING_SQL, ("pipeline", "J6"))
def q_serving_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fused one-scan-per-fact-table derivation; identical result to
    # serving_join(uf, tf, rf) — asserted in tests/test_drivers.py.
    return serving_features(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "events"),
        orders_custkey=_t(spark, sf_dir, "orders_by_custkey"),
        lineitem_custkey=_t(spark, sf_dir, "lineitem_by_custkey"),
    )


@spec("serving_from_store", SERVING_SQL, ("pipeline", "J6", "S8"))
def q_serving_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same serving join read from MATERIALIZED feature tables bucketed
    # by user_id (the reference's stored-feature-table request path,
    # `sql/migration_queries.sql:143-166`) — co-located join, no
    # Exchange (tests/test_plans.py::test_store_serving_join_no_exchange).
    from feature_store_spark.pipelines.store import serving_from_store

    return serving_from_store(spark, sf_dir)


# ---------------------------------------------------------------------------
# §2.1 Scans / sources
# ---------------------------------------------------------------------------


@spec(
    "s1_scan_time_predicate",
    f"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
       FROM orders WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 31""",
    ("S1", "P3"),
)
def q_s1(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.date_sub(F.to_date(F.lit(REF_DATE)), 31))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


@spec(
    "s2_point_lookup",
    "SELECT * FROM customer WHERE c_custkey = 42",
    ("S2",),
)
def q_s2(spark, sf_dir):
    return _t(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)


@spec(
    "s3_keyset_probe",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       WHERE o_custkey IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89)""",
    ("S3",),
)
def q_s3(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isin(1, 2, 3, 5, 8, 13, 21, 34, 55, 89))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@spec(
    "a4_mode_per_key",
    """SELECT o_custkey AS user_id, o_orderpriority AS preferred_priority
       FROM (
         SELECT o_custkey, o_orderpriority,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
         FROM orders WHERE o_orderpriority IS NOT NULL
         GROUP BY o_custkey, o_orderpriority
       ) t WHERE rn = 1""",
    ("A4",),
)
def q_a4(spark, sf_dir):
    return mode_deterministic(
        _t(spark, sf_dir, "orders"), ["o_custkey"], "o_orderpriority",
        "preferred_priority",
    ).withColumnRenamed("o_custkey", "user_id")


@spec(
    "a7_stats_outliers",
    """WITH b AS (
         SELECT count(o_totalprice) AS count_value,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) AS s1,
                CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT)
                       * CAST(round(o_totalprice * 100) AS HUGEINT))
                  AS DOUBLE) AS s2,
                min(o_totalprice) AS min_value,
                max(o_totalprice) AS max_value
         FROM orders
       ), s AS (
         SELECT s1 / 100.0 / count_value AS mean_value,
                sqrt((s2 / 10000.0 - (s1 / 100.0) * (s1 / 100.0) / count_value)
                     / (count_value - 1)) AS stddev_value,
                min_value, max_value, count_value
         FROM b
       )
       SELECT s.mean_value, s.stddev_value, s.min_value, s.max_value,
              s.count_value,
              (SELECT count(*) FROM orders, s
               WHERE o_totalprice < s.mean_value - 3.0 * s.stddev_value
                  OR o_totalprice > s.mean_value + 3.0 * s.stddev_value)
                AS outlier_count
       FROM s""",
    ("A7",),
)
def q_a7(spark, sf_dir):
    return stats_with_outliers(_t(spark, sf_dir, "orders"), "o_totalprice")


@spec(
    "a8_completeness",
    """WITH t AS (
         SELECT count(*) AS total_rows, count(text) AS nn_text,
                count(lang) AS nn_lang, count(source) AS nn_source,
                count(n_chars) AS nn_chars
         FROM documents
       )
       SELECT 'documents' AS table_name, column_name, total_rows,
              non_null_count, non_null_count / total_rows AS completeness_ratio
       FROM (
         SELECT 'text' AS column_name, total_rows, nn_text AS non_null_count FROM t
         UNION ALL SELECT 'lang', total_rows, nn_lang FROM t
         UNION ALL SELECT 'source', total_rows, nn_source FROM t
         UNION ALL SELECT 'n_chars', total_rows, nn_chars FROM t
       ) u""",
    ("A8", "U2"),
)
def q_a8(spark, sf_dir):
    return completeness_report(
        _t(spark, sf_dir, "documents"),
        ["text", "lang", "source", "n_chars"],
        "documents",
    )


@spec(
    "a9_freshness",
    f"""SELECT max(ts) AS max_ts, count(*) AS total_rows,
              count(*) FILTER (WHERE ts >= {SQL_NOW} - INTERVAL 2 HOUR)
                AS fresh_rows,
              count(*) FILTER (WHERE ts >= {SQL_NOW} - INTERVAL 2 HOUR)
                / count(*) AS fresh_ratio
       FROM events""",
    ("A9",),
)
def q_a9(spark, sf_dir):
    return freshness_report(_t(spark, sf_dir, "events"), "ts", EVENTS_NOW, 2)


@spec(
    "a10_table_counts",
    """SELECT 'customer' AS table_name, count(*) AS row_count FROM customer
       UNION ALL SELECT 'orders', count(*) FROM orders
       UNION ALL SELECT 'lineitem', count(*) FROM lineitem
       UNION ALL SELECT 'events', count(*) FROM events""",
    ("A10", "A13", "U2"),
)
def q_a10(spark, sf_dir):
    parts = []
    for name in ["customer", "orders", "lineitem", "events"]:
        parts.append(
            _t(spark, sf_dir, name)
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(F.lit(name).alias("table_name"), "row_count")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# §2.5 Windows / ranking
# ---------------------------------------------------------------------------


@spec(
    "w1_latest_event_per_user",
    """SELECT user_id, event_id, ts, event_type, value FROM (
         SELECT user_id, event_id, ts, event_type, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events
       ) t WHERE rn = 1""",
    ("W1",),
)
def q_w1(spark, sf_dir):
    return latest_per_key(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "event_id"
    ).select("user_id", "event_id", "ts", "event_type", "value")


@spec(
    "w2_topk_customers",
    """SELECT c_custkey, c_name, c_acctbal FROM customer
       ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 100""",
    ("W2", "O2"),
)
def q_w2(spark, sf_dir):
    return top_k(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        100,
    )


# ---------------------------------------------------------------------------
# §2.7 Set operations / §2.3 anti-join
# ---------------------------------------------------------------------------


@spec(
    "u1_union_active_keys",
    f"""SELECT DISTINCT user_id FROM (
         SELECT o_custkey AS user_id FROM orders
           WHERE CAST(o_orderdate AS DATE) >= {SQL_REF} - 90
         UNION ALL
         SELECT user_id FROM events WHERE ts >= {SQL_NOW} - INTERVAL 30 DAY
       ) u""",
    ("U1", "U3"),
)
def q_u1(spark, sf_dir):
    ref = F.to_date(F.lit(REF_DATE))
    a = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.date_sub(ref, 90))
        .select(F.col("o_custkey").alias("user_id"))
    )
    b = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("ts") >= F.to_timestamp(F.lit(EVENTS_NOW)) - F.expr("INTERVAL 30 DAYS")
        )
        .select("user_id")
    )
    return a.union(b).distinct()


@spec(
    "j4_anti_join_orphans",
    """SELECT c.c_custkey, c.c_name
       FROM customer c
       LEFT JOIN (SELECT DISTINCT user_id FROM events) e
         ON c.c_custkey = e.user_id
       WHERE e.user_id IS NULL""",
    ("J4", "P4"),
)
def q_j4(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "events").select(
                F.col("user_id").alias("c_custkey")
            ),
            "c_custkey",
            "left_anti",
        )
        .select("c_custkey", "c_name")
    )


@spec(
    "j9_asof_join",
    """WITH l AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
       ), r AS (
         SELECT user_id, ts, max_by(value, event_id) AS last_purchase_value
         FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
       )
       SELECT l.event_id, l.user_id, l.ts,
              r.last_purchase_value, r.ts AS last_purchase_ts
       FROM l ASOF LEFT JOIN r
         ON l.user_id = r.user_id AND l.ts >= r.ts""",
    ("ext", "join", "asof"),
)
def q_j9_asof(spark, sf_dir):
    """Point-in-time join (beyond the reference surface): each 'view'
    event annotated with the user's most recent 'purchase' value as of
    that moment — the leakage-free feature-lookup primitive. Right side
    deduped per (user, ts) so the as-of pick is deterministic."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("last_purchase_value"))
    )
    return asof_join(left, right, on=["user_id"]).withColumnRenamed(
        "ts_right", "last_purchase_ts"
    )


@spec(
    "j10_band_join",
    """SELECT l.event_id AS error_event_id, l.user_id,
              r.event_id AS click_event_id,
              CAST(epoch(date_trunc('second', l.ts))
                   - epoch(date_trunc('second', r.ts)) AS BIGINT)
                AS delta_seconds
       FROM (SELECT * FROM events WHERE event_type = 'error') l
       JOIN (SELECT * FROM events WHERE event_type = 'click') r
         ON l.user_id = r.user_id
        AND abs(epoch(date_trunc('second', l.ts))
                - epoch(date_trunc('second', r.ts))) <= 300""",
    ("ext", "join", "range"),
)
def q_j10_band(spark, sf_dir):
    """Banded interval join (beyond the reference surface): clicks
    within ±5 minutes of each error event per user, via time-cell
    bucketing — an equi shuffle join, never a per-key cross product."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"), "user_id", "ts"
    )
    return band_join(
        errors, clicks, on=["user_id"], band_seconds=300
    ).select(
        "error_event_id",
        "user_id",
        "click_event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_r"))
        .cast("bigint")
        .alias("delta_seconds"),
    )


# CDC fixture: a deterministic I/U/D change feed derived from orders
# itself (both engines synthesize the identical feed), exercising
# update-wins, delete, delete-then-resurrect, and brand-new-key
# insert — the four MERGE paths.
_CDC_BASE_SQL = """SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
  FROM orders"""
_CDC_CHANGES_SQL = """
  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) + 12345 AS total_cents,
         1 AS seq, 'U' AS op
    FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(0 AS BIGINT), 2, 'D'
    FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, 'U3',
         CAST(round(o_totalprice * 100) AS BIGINT) * 2, 3, 'U'
    FROM orders WHERE o_orderkey % 25 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, 'NW',
         CAST(777 AS BIGINT), 1, 'I'
    FROM orders WHERE o_orderkey % 97 = 0"""


def _cdc_oracle() -> str:
    from feature_store_spark.operators.cdc import apply_cdc_oracle_sql

    return apply_cdc_oracle_sql(
        _CDC_BASE_SQL,
        _CDC_CHANGES_SQL,
        key_cols=["o_orderkey"],
        payload_cols=["o_custkey", "o_orderstatus", "total_cents"],
    )


@spec("s12_cdc_apply", _cdc_oracle(), ("ext", "S6", "cdc", "merge"))
def q_s12_cdc_apply(spark, sf_dir):
    """Ordered-change-feed MERGE (`operators/cdc.py::apply_cdc`): the
    upsert sink (S6) generalized to deletes and per-key sequence
    ordering — Debezium/Delta-CDF replay semantics. The feed is
    windowed once on the key; the base pays one anti-join (broadcast
    when the batch is small, shuffle-free from a bucketed store)."""
    from feature_store_spark.operators.cdc import apply_cdc

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        cents.alias("total_cents"),
    )
    key = F.col("o_orderkey")
    u1 = orders.filter(key % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U1").alias("o_orderstatus"),
        (cents + 12345).alias("total_cents"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    d2 = orders.filter(key % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.lit(0).cast("bigint").alias("total_cents"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
    )
    u3 = orders.filter(key % 25 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U3").alias("o_orderstatus"),
        (cents * 2).alias("total_cents"),
        F.lit(3).alias("seq"),
        F.lit("U").alias("op"),
    )
    ins = orders.filter(key % 97 == 0).select(
        (key + 1000000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("NW").alias("o_orderstatus"),
        F.lit(777).cast("bigint").alias("total_cents"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = u1.unionByName(d2).unionByName(u3).unionByName(ins)
    return apply_cdc(base, changes, key_cols=["o_orderkey"])


@spec("s12b_merge_replay", _cdc_oracle(), ("ext", "S6", "cdc", "merge", "txn"))
def q_s12b_merge_replay(spark, sf_dir):
    """The SAME mixed I/U/D change feed as ``s12_cdc_apply``, replayed
    as three sequential ``MERGE INTO`` commits against a real manifest
    table (`pipelines/txn.py::merge_into`) instead of one
    ``apply_cdc`` pass — seq-1 updates+inserts, seq-2 deletes, seq-3
    upserts (which RESURRECT keys seq-2 deleted, the not-matched
    insert path). The final table must hash-equal the apply_cdc
    oracle, proving the conditional-clause verb composes to the same
    end state commit-by-commit that the set-based replay reaches in
    one step. The table lives in a session temp dir; the result is
    localCheckpoint-ed so the returned frame outlives the cleanup."""
    import shutil as _sh
    import tempfile

    from feature_store_spark.pipelines.txn import (
        merge_into,
        read_table,
        upsert_manifest,
    )

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    key = F.col("o_orderkey")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents.alias("total_cents"),
    )
    seq1 = orders.filter(key % 5 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U1").alias("o_orderstatus"),
        (cents + 12345).alias("total_cents"),
    ).unionByName(
        orders.filter(key % 97 == 0).select(
            (key + 1000000000).alias("o_orderkey"), "o_custkey",
            F.lit("NW").alias("o_orderstatus"),
            F.lit(777).cast("bigint").alias("total_cents"),
        )
    )
    seq2 = orders.filter(key % 10 == 0).select("o_orderkey")
    seq3 = orders.filter(key % 25 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U3").alias("o_orderstatus"),
        (cents * 2).alias("total_cents"),
    )
    root = tempfile.mkdtemp(prefix="merge_replay_")
    try:
        upsert_manifest(base, root, ["o_orderkey"], "total_cents")
        upsert_sets = {
            "o_custkey": "s.o_custkey",
            "o_orderstatus": "s.o_orderstatus",
            "total_cents": "s.total_cents",
        }
        merge_into(
            spark, root, seq1, ["o_orderkey"],
            when_matched=[(None, upsert_sets)],
            when_not_matched=(None, None),
        )
        merge_into(
            spark, root, seq2, ["o_orderkey"],
            when_matched=[(None, "delete")],
        )
        merge_into(
            spark, root, seq3, ["o_orderkey"],
            when_matched=[(None, upsert_sets)],
            when_not_matched=(None, None),
        )
        final, _v = read_table(spark, root)
        return final.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "total_cents"
        ).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


DV_DELETE_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
WHERE NOT (o_orderstatus = 'P') AND NOT (o_orderkey < 1000)
"""


@spec("s12d_dv_delete", DV_DELETE_SQL, ("ext", "txn", "dv", "delete"))
def q_s12d_dv_delete(spark, sf_dir):
    """Row-level DELETE via DELETION VECTORS (merge-on-read) against
    a real manifest table: two sequential ``delete_where(mode='dv')``
    commits — the second unions its sidecar into the first's — then a
    read that anti-joins the vectors away. The final frame must
    hash-equal the plain predicate-complement oracle, proving the
    sidecar path deletes exactly the predicate rows and nothing else.
    Reference analogue: row-level retention deletes
    (`src/pipelines/batch_pipeline.py` delete passes) without the
    partition rewrite. The table lives in a session temp dir; the
    result is localCheckpoint-ed so the frame outlives the cleanup."""
    import shutil as _sh
    import tempfile

    from feature_store_spark.pipelines.txn import (
        delete_where,
        read_table,
        upsert_manifest,
    )

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents.alias("total_cents"),
    )
    root = tempfile.mkdtemp(prefix="dv_delete_")
    try:
        upsert_manifest(base, root, ["o_orderkey"], "total_cents")
        delete_where(
            spark, root, [("o_orderstatus", "=", "P")], mode="dv"
        )
        delete_where(spark, root, [("o_orderkey", "<", 1000)], mode="dv")
        final, _v = read_table(spark, root)
        return final.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "total_cents"
        ).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


DV_UPDATE_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderstatus = 'P' THEN 'PX'
            ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey < 1000 THEN 50
            WHEN o_orderstatus = 'P' THEN 0
            ELSE CAST(round(o_totalprice * 100) AS BIGINT)
       END AS total_cents
FROM orders
"""


@spec("s12e_dv_update", DV_UPDATE_SQL, ("ext", "txn", "dv", "update"))
def q_s12e_dv_update(spark, sf_dir):
    """Row-level UPDATE via merge-on-read (``update_where(mode='dv')``,
    round 9): two sequential DV-backed updates — the matched rows'
    old positions enter the deletion vector, their new images land in
    appended ``extra_dirs`` leaves, the base leaf is never rewritten —
    then a read that merges base ∪ extras minus the DV. The second
    update overlaps the first (a 'P' order below key 1000 is updated
    twice), so the oracle's CASE encodes SEQUENTIAL application —
    hash equality proves the stacked sidecars update exactly the
    predicate rows, once each, latest-wins. Reference analogue:
    point corrections against a wide fact table
    (`src/pipelines/batch_pipeline.py` update passes) at O(changed
    rows) instead of a partition rewrite."""
    import shutil as _sh
    import tempfile

    from feature_store_spark.pipelines.txn import (
        read_table,
        update_where,
        upsert_manifest,
    )

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents.alias("total_cents"),
    )
    root = tempfile.mkdtemp(prefix="dv_update_")
    try:
        upsert_manifest(base, root, ["o_orderkey"], "total_cents")
        update_where(
            spark, root, [("o_orderstatus", "=", "P")],
            {"total_cents": 0, "o_orderstatus": "PX"}, mode="dv",
        )
        update_where(
            spark, root, [("o_orderkey", "<", 1000)],
            {"total_cents": 50}, mode="dv",
        )
        final, _v = read_table(spark, root)
        return final.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "total_cents"
        ).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


@spec(
    "j12_supplier_geo_rollup",
    """SELECT r.r_name AS region, n.n_name AS nation,
              CAST(count(*) AS BIGINT) AS n_suppliers,
              CAST(sum(CAST(round(s.s_acctbal * 100) AS BIGINT))
                   AS BIGINT) AS acctbal_cents
       FROM supplier s
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY 1, 2""",
    ("ext", "J2", "A1", "geo"),
)
def q_j12_supplier_geo(spark, sf_dir):
    """Supplier geography rollup through the full dimension chain
    (supplier ⋈ nation ⋈ region — the last two fixture tables without
    a dedicated query): both dims broadcast (25 / 5 rows — the
    canonical star-join), integer-cents exact balances, one
    map-side-combined aggregate on (region, nation)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = F.round(F.col("s_acctbal") * 100).cast("bigint")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum(cents).cast("bigint").alias("acctbal_cents"),
        )
    )


from feature_store_spark.operators.skew import skew_report_oracle_sql


@spec(
    "a24_skew_report",
    skew_report_oracle_sql("orders", ["o_custkey"], top_n=10),
    ("ext", "A7", "skew", "diagnostics"),
)
def q_a24_skew_report(spark, sf_dir):
    """Join-key skew profile (`operators/skew.py::skew_report`): the
    top-10 heaviest o_custkey values with row share and
    multiple-of-average — the measurement that picks a mitigation
    (broadcast / AQE split / salted_join) BEFORE a 100 TB shuffle
    hashes a hot key onto one reducer. One map-side-combined count
    shuffle; totals broadcast from the counts frame, never a rescan."""
    from feature_store_spark.operators.skew import skew_report

    return skew_report(_t(spark, sf_dir, "orders"), ["o_custkey"], top_n=10)


# ---------------------------------------------------------------------------
# §2.2 Predicates / validation
# ---------------------------------------------------------------------------


@spec(
    "p6_night_window_events",
    """SELECT user_id,
              count(*) FILTER (WHERE hour(ts) >= 22 OR hour(ts) <= 6)
                AS night_events,
              count(*) AS total_events,
              count(*) FILTER (WHERE hour(ts) >= 22 OR hour(ts) <= 6)
                / count(*) AS night_ratio
       FROM events GROUP BY user_id""",
    ("P6", "F6", "A5"),
)
def q_p6(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    total = F.count(F.lit(1))
    night = F.count(F.when(is_night(F.col("ts")), 1))
    return ev.groupBy("user_id").agg(
        night.alias("night_events"),
        total.alias("total_events"),
        safe_ratio(night, total).alias("night_ratio"),
    )


@spec(
    "p8_validation_rules",
    """SELECT 'orders' AS table_name, 'non_negative_amount' AS rule,
              count(*) FILTER (WHERE o_totalprice < 0) AS violations
       FROM orders
       UNION ALL
       SELECT 'orders', 'valid_status',
              count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
       FROM orders
       UNION ALL
       SELECT 'customer', 'name_not_null',
              count(*) FILTER (WHERE c_name IS NULL)
       FROM customer
       UNION ALL
       SELECT 'events', 'known_event_type',
              count(*) FILTER (WHERE event_type NOT IN
                ('signup', 'click', 'purchase', 'error', 'view'))
       FROM events""",
    ("P8", "U2"),
)
def q_p8(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    events = _t(spark, sf_dir, "events")
    def rule_row(df, table, rule, cond):
        return (
            df.agg(F.count(F.when(cond, 1)).alias("violations"))
            .select(
                F.lit(table).alias("table_name"),
                F.lit(rule).alias("rule"),
                "violations",
            )
        )

    rows = [
        rule_row(orders, "orders", "non_negative_amount", F.col("o_totalprice") < 0),
        rule_row(
            orders,
            "orders",
            "valid_status",
            ~F.col("o_orderstatus").isin("F", "O", "P"),
        ),
        rule_row(customer, "customer", "name_not_null", F.col("c_name").isNull()),
        rule_row(
            events,
            "events",
            "known_event_type",
            ~F.col("event_type").isin("signup", "click", "purchase", "error", "view"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# §2.6 Sampling
# ---------------------------------------------------------------------------


STRATA_FRACTIONS = {"BUILDING": 0.2, "AUTOMOBILE": 0.5}


@spec(
    "o6_stratified_sample",
    stratified_sample_oracle_sql(
        "customer", "c_mktsegment", STRATA_FRACTIONS, "c_custkey",
        default_fraction=0.05,
    ),
    ("ext", "O3", "sampling"),
)
def q_o6(spark, sf_dir):
    """Deterministic per-stratum sampling (beyond reference): keep 50%
    of AUTOMOBILE, 20% of BUILDING, 5% of other segments, keyed on the
    customer id hash — identical row set on any engine or cluster."""
    return stratified_sample(
        _t(spark, sf_dir, "customer"),
        "c_mktsegment",
        STRATA_FRACTIONS,
        "c_custkey",
        default_fraction=0.05,
    )


@spec(
    "o7_priority_sample",
    priority_sample_oracle_sql("documents", "doc_id", "n_chars", 150),
    ("ext", "O3", "sampling"),
)
def q_o7(spark, sf_dir):
    """Weighted sample without replacement by priority sampling
    (Duffield–Lund–Thorup): 150 documents weighted by length, with the
    tau-threshold ``est_weight`` that makes subset sums unbiasedly
    estimable from the sample alone. Deterministic md5 uniforms and
    integer-exact priority arithmetic — identical sample on any
    engine; top-(k+1) compiles to TakeOrderedAndProject (no sort, no
    shuffle of losers)."""
    return priority_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars", 150
    )


@spec(
    "o8_dataset_split",
    dataset_split_oracle_sql("documents", "doc_id", select_cols="doc_id"),
    ("ext", "O3", "sampling", "split"),
)
def q_o8(spark, sf_dir):
    """Deterministic train/val/test split (90/5/5): assignment is a
    salted md5 hash of the key, so it is identical on any engine and
    STABLE under corpus growth — adding documents never reassigns
    existing ones (the property engine-RNG randomSplit cannot give and
    contamination audits depend on). Narrow projection, no shuffle."""
    return dataset_split(
        _t(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "split")


_O9_POSITIVES_SQL = """SELECT o.o_custkey AS user_id,
       l.l_partkey AS item_id
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"""


@spec(
    "o9_negative_samples",
    negative_samples_oracle_sql(
        "SELECT c_custkey AS user_id FROM customer",
        "SELECT p_partkey AS item_id FROM part",
        k=3,
        positives_sql=_O9_POSITIVES_SQL,
    ),
    ("ext", "O3", "sampling", "contrastive"),
)
def q_o9(spark, sf_dir):
    """Deterministic negative sampling for contrastive training
    (`operators/sampling.py::negative_samples`): 3 md5-drawn catalog
    parts per customer, purchased (user, part) pairs anti-joined out.
    Identical sample on any engine/partitioning; catalog indexed once
    (dimension-sided window), user side never sorts."""
    from feature_store_spark.operators.sampling import negative_samples

    users = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    items = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item_id")
    )
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    positives = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    return negative_samples(
        users, items, k=3, positives=positives
    )


@spec(
    "a20_decayed_features",
    decayed_aggregate_oracle_sql(
        "events", "user_id", "ts", "value", EVENTS_NOW.split(" ")[0]
    ),
    ("ext", "A1", "F8", "aggregate"),
)
def q_a20(spark, sf_dir):
    """Exponentially time-decayed per-user event aggregates (7-day
    half-life, 30-half-life horizon, anchored at EVENTS_NOW): the
    recency-weighted feature the reference's fixed 7d/30d trailing
    windows approximate. Fixed-point power-of-two weights make the
    decayed sums exact and order-free — no float-sum nondeterminism,
    no libm exp(); one narrow map-combined groupBy shuffle."""
    return decayed_aggregate(
        _t(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "value",
        EVENTS_NOW.split(" ")[0],
    )


@spec(
    "o3_deterministic_sample",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY md5(CAST(o_orderkey AS VARCHAR)) LIMIT 100""",
    ("O3", "F15"),
)
def q_o3(spark, sf_dir):
    """Seeded-random sample stand-in: hash-ordered sample is
    deterministic AND identical across engines (F.rand(seed) streams
    differ between Spark and DuckDB, so the reference's ORDER BY
    RANDOM() is pinned as ORDER BY md5(key))."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.md5(F.col("o_orderkey").cast("string")))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.8 Scalar-function suite
# ---------------------------------------------------------------------------


@spec(
    "f_scalar_suite",
    f"""SELECT o_orderkey,
              'order_' || CAST(o_orderkey AS VARCHAR) AS order_tag,
              CASE WHEN o_totalprice > 200000 THEN 'high'
                   WHEN o_totalprice > 100000 THEN 'medium'
                   ELSE 'low' END AS value_band,
              date_diff('day', CAST(o_orderdate AS DATE), {SQL_REF})
                AS days_before_ref,
              dayofweek(o_orderdate) IN (0, 6) AS is_weekend,
              year(o_orderdate) AS order_year,
              month(o_orderdate) AS order_month,
              md5(o_orderpriority) AS priority_hash,
              COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm
       FROM orders""",
    ("F2", "F4", "F5", "F8", "F9", "F12", "F15"),
)
def q_fsuite(spark, sf_dir):
    ref = F.to_date(F.lit(REF_DATE))
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat(F.lit("order_"), F.col("o_orderkey").cast("string")).alias(
            "order_tag"
        ),
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "medium")
        .otherwise("low")
        .alias("value_band"),
        F.datediff(ref, F.to_date("o_orderdate")).cast("bigint").alias(
            "days_before_ref"
        ),
        is_weekend(F.col("o_orderdate")).alias("is_weekend"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.md5("o_orderpriority").alias("priority_hash"),
        F.coalesce(
            F.when(F.col("o_orderstatus") == "P", None).otherwise(
                F.col("o_orderstatus")
            ),
            F.lit("PENDING"),
        ).alias("status_norm"),
    )


@spec(
    "f13_json_extract",
    """SELECT event_id, user_id,
              CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
       FROM events""",
    ("F13",),
)
def q_f13(spark, sf_dir):
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


def _load_extensions() -> None:
    """Register the extension query modules (they import ``spec`` from
    this module, so the import happens after the registry exists).
    queries_composite goes last — its suites wrap members registered
    by the other two."""
    import feature_store_spark.queries_llm  # noqa: F401
    import feature_store_spark.queries_quality  # noqa: F401
    import feature_store_spark.queries_composite  # noqa: F401


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {name: s.fn for name, s in SPECS.items()}


def driver_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The curated ≤50-entry registry `__spark_entry__` exposes to the
    round driver: one row per operator family (family composites +
    flagship standalones — see queries_composite.driver_registry), so
    the driver's 50-row CORRECTNESS sample covers everything. The full
    per-operator registry stays in SPECS for tests and bench."""
    _load_extensions()
    from feature_store_spark.queries_composite import driver_registry

    return {name: SPECS[name].fn for name in driver_registry()}


def driver_oracle_sql() -> dict[str, str]:
    _load_extensions()
    from feature_store_spark.queries_composite import driver_registry

    return {
        name: SPECS[name].sql
        for name in driver_registry()
        if SPECS[name].sql is not None
    }
