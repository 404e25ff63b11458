"""Sinks & sources: warehouse export with partitioning/clustering
(S7/S8) and the synthetic data generator (S11).

The offline store is one manifest table per feature group
(``pipelines/txn.py``): ``txn.upsert_manifest`` is the keyed
last-writer-wins merge (S6, the reference's atomic
``INSERT … ON CONFLICT (user_id) DO UPDATE``,
`src/pipelines/batch_pipeline.py:221-310`), and the warehouse export
below commits through the same protocol. Plain parquet stores from
before the manifest format move over once, through
``txn.migrate_to_manifest``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from feature_store_spark.pipelines import txn


def export_warehouse(
    df: DataFrame,
    path: str,
    date_col: str = "updated_at",
    cluster_col: str = "user_id",
    retention_days: int | None = 730,
    ref_date: str | None = None,
) -> int:
    """Warehouse export mirroring the reference's BigQuery layout
    (`sql/bigquery_schema.sql:18-26`): a manifest table partitioned by
    the date of ``date_col`` (column ``partition_date``), clustered by
    ``cluster_col`` (repartition + sortWithinPartitions — co-locates
    keys for point lookups and merge joins). Returns THIS RUN's
    exported row count, observed on the commit's own scan — never a
    second pass over the warehouse, and never the table total (that
    would mask a zero-row derivation day behind the merged history).

    The rows land through ``txn.upsert_manifest_partitioned(
    mode="replace", key_cols=None)``: one atomic commit REPLACING only
    this run's dates with EVERY input row (no per-key dedupe: a
    multi-row-per-key-per-date export keeps all its rows; a repair
    re-run that dropped keys actually drops them; untouched history
    partitions carry forward untouched) — multi-writer safe when a
    backfill races the daily run. Readers use ``txn.read_table``. The
    commit runs no pass before its write: the dates it replaces are
    learnt from the read-back aggregate that also counts each date's
    rows and records the stats below, so an export is one write plus
    one aggregate over what it wrote.

    The commit records DATA-SKIPPING stats for ``cluster_col``
    (per-leaf min/max — tight ranges precisely BECAUSE the rows are
    cluster-sorted) plus a per-leaf Bloom filter when the column's
    type supports a canonical equality form, so
    ``txn.read_table(path, where=[(cluster_col, "=", key)])`` point
    lookups skip non-matching date leaves outright — the engine-side
    analogue of BigQuery clustering's block pruning; a date read
    (``partition_values=``) lists only its own leaf.

    Retention: incoming rows older than ``ref_date - retention_days``
    are filtered out, and after the commit the date partitions past
    retention are DROPPED atomically via ``txn.drop_partitions`` —
    real expiration, like BigQuery's ``partition_expiration_days``.
    A row whose date is NULL or unparseable raises ``ValueError``, and
    nothing is committed.
    """
    out = df.withColumn("partition_date", F.to_date(F.col(date_col)))
    date = F.col("partition_date")
    if retention_days is not None and ref_date is not None:
        # NULL dates pass the retention filter, so they reach the
        # commit's refusal below instead of vanishing silently
        out = out.filter(
            date.isNull()
            | (date >= F.date_sub(F.to_date(F.lit(ref_date)), retention_days))
        )
    cluster_type = out.schema[cluster_col].dataType.typeName()
    obs = Observation()
    try:
        txn.upsert_manifest_partitioned(
            out.observe(obs, F.count(F.lit(1)).alias("rows"))
            .repartition(F.col(cluster_col))
            .sortWithinPartitions(cluster_col),
            path,
            key_cols=None,  # passthrough: every input row lands
            order_col=date_col,
            partition_col="partition_date",
            mode="replace",
            stats_cols=[cluster_col],
            bloom_cols=(
                [cluster_col] if cluster_type in txn._BLOOM_TYPES else None
            ),
        )
    except ValueError as e:
        # a NULL (or unparseable) date has no partition to land in;
        # the commit refuses it from its read-back and discards what
        # it wrote — name the source column
        if "NULL 'partition_date'" not in str(e):
            raise
        raise ValueError(
            f"export_warehouse: rows with NULL/unparseable {date_col!r} "
            "cannot be partitioned safely — fill or drop them first"
        ) from e
    if retention_days is not None and ref_date is not None:
        # a zero-data-work commit removes date partitions past
        # retention (leaves reclaimed by the next vacuum; time travel
        # still sees them). DATE partition keys are ISO strings, so
        # the cutoff compare is lexicographic-safe.
        import datetime

        cutoff = (
            datetime.date.fromisoformat(ref_date)
            - datetime.timedelta(days=retention_days)
        ).isoformat()
        expired = [
            pk
            for pk in txn.resolve_partitions(path, txn.latest_version(path))
            if pk < cutoff
        ]
        if expired:
            txn.drop_partitions(path, expired)
    return int(obs.get["rows"])


def _hash_uniform(id_col: str, seed: int, stream: int):
    """Layout-independent uniform in [0, 1): a 60-bit md5 of
    (seed, stream, id). Unlike ``F.rand(seed)`` — whose output depends
    on the PARTITION INDEX, so the same seed yields different data on
    a machine with a different default parallelism — this is a pure
    function of the row id: reproducible across machines, cluster
    sizes, and repartitionings."""
    h = (
        f"cast(conv(substring(md5(concat('{seed}|{stream}|', "
        f"cast({id_col} as string))), 1, 15), 16, 10) as bigint)"
    )
    return F.expr(h).cast("double") / float(2**60)


def generate_synthetic_users(
    spark: SparkSession, n: int, seed: int = 42
) -> DataFrame:
    """Deterministic synthetic user base (reference Faker seeder,
    `scripts/seed_data.py:28-155`): segment-conditioned age/balance
    distributions from id-hash uniforms over ``spark.range`` — fully
    distributed, no driver-side generation, and reproducible at any n
    on ANY machine/partition layout (see ``_hash_uniform``)."""
    segs = F.array(
        F.lit("AUTOMOBILE"),
        F.lit("BUILDING"),
        F.lit("FURNITURE"),
        F.lit("HOUSEHOLD"),
        F.lit("MACHINERY"),
    )
    df = spark.range(n).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("user_"), F.substring(F.md5(F.col("id").cast("string")), 1, 8)).alias(
            "user_tag"
        ),
        segs.getItem(
            (_hash_uniform("id", seed, 0) * 5).cast("int")
        ).alias("segment"),
        (_hash_uniform("id", seed, 1) * 82 + 18).cast("int").alias("age"),
        F.round(
            _hash_uniform("id", seed, 2) * 10000 - 1000, 2
        ).alias("account_balance"),
    )
    # Segment-conditioned skew: machinery users carry higher balances
    # (mirrors the reference's segment-conditioned distributions).
    return df.withColumn(
        "account_balance",
        F.when(
            F.col("segment") == "MACHINERY", F.col("account_balance") * 1.5
        ).otherwise(F.col("account_balance")),
    )


def generate_synthetic_orders(
    spark: SparkSession, n_users: int, orders_per_user: int = 5, seed: int = 42
) -> DataFrame:
    """Synthetic order feed: ~orders_per_user per user with seeded
    amounts/status/dates (reference `scripts/seed_data.py:157-230`)."""
    n = n_users * orders_per_user
    # id-hash uniforms (see _hash_uniform): deterministic per row id,
    # so repeated references to the same stream are the SAME value —
    # no rand()-style per-partition RNG streams to desynchronize
    status_draw = _hash_uniform("id", seed, 11)
    return (
        spark.range(n)
        .select(
            F.col("id").alias("order_id"),
            (F.col("id") % n_users).alias("user_id"),
            F.round(_hash_uniform("id", seed, 10) * 500 + 5, 2).alias(
                "amount"
            ),
            F.when(status_draw < 0.85, "completed")
            .when(status_draw < 0.95, "pending")
            .otherwise("declined")
            .alias("status"),
            F.date_sub(
                F.to_date(F.lit("2001-08-01")),
                (_hash_uniform("id", seed, 12) * 365).cast("int"),
            ).alias("created_at"),
        )
    )
