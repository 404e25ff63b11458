"""Point-in-time training-set builder: the offline-store API the
reference leaves implicit.

The reference trains risk models on feature snapshots but has no
leakage-safe way to assemble (observation, features-as-of-then) pairs
— its serving path always returns the LATEST row
(`src/feature_store/store.py:43-78`). The warehouse export here is
partitioned by ``partition_date`` (`pipelines/sinks.py::
export_warehouse`, mirroring `sql/bigquery_schema.sql:18-26`), which
makes it a feature HISTORY: one snapshot per export day. Joining each
labeled observation to the newest snapshot at-or-before its timestamp
is exactly the as-of join, so a training set never sees features
computed after the label event (no target leakage).

Scale: one shuffle on the entity key (the asof union-window); the
observation side is typically tiny next to the warehouse and rides
the same partitioning. Snapshot-date pruning happens before the join:
pass the frame ``txn.read_table(path, partition_values=[...])``
returns, which lists only the named dates' leaves.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_spark.operators.windows import asof_join


def build_training_set(
    observations: DataFrame,
    warehouse: DataFrame,
    on: Sequence[str] = ("user_id",),
    obs_ts: str = "obs_date",
    snapshot_col: str = "partition_date",
    feature_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Attach to each observation row the feature snapshot that was
    current at its timestamp (newest ``snapshot_col`` ≤ ``obs_ts``
    per key). Observations earlier than every snapshot keep NULL
    features — visible, not silently filled with future data.

    ``feature_cols`` limits the carried snapshot columns (column
    pruning through the asof union); default all non-key,
    non-snapshot-date columns.
    """
    keys = list(on)
    if feature_cols is None:
        feature_cols = [
            c for c in warehouse.columns if c not in keys and c != snapshot_col
        ]
    snap = warehouse.select(*keys, snapshot_col, *feature_cols)
    out = asof_join(
        observations,
        snap,
        on=keys,
        left_ts=obs_ts,
        right_ts=snapshot_col,
        direction="backward",
    )
    rename = (
        f"{snapshot_col}_right"
        if snapshot_col in observations.columns
        else snapshot_col
    )
    return out.withColumnRenamed(rename, "feature_snapshot_date")


def snapshot_coverage(training_set: DataFrame) -> DataFrame:
    """Diagnostic: how many observations matched a snapshot, per
    snapshot date (NULL date = observation predates all snapshots)."""
    return (
        training_set.groupBy("feature_snapshot_date")
        .agg(F.count(F.lit(1)).alias("n_observations"))
        .orderBy(F.col("feature_snapshot_date").asc_nulls_first())
    )
