"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (oracle comparability), Arrow enabled for the
few Pandas-UDF paths (LLM extension ops only).

At 100 TB the same code runs with ``master`` unset (cluster manager
provides it) and ``spark.sql.shuffle.partitions`` sized to
~2-3x total executor cores; AQE coalescing makes the exact number
less critical.

Small driver-side frames (lookup keys, partition-token maps, metadata
tables) are built with :func:`local_frame`, never with
``createDataFrame(<list>)``. Independent actions on one driver are
submitted together through :func:`run_concurrently`, the package's one
thread-pool site.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "feature_store_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Fixture events.parquet stores TIMESTAMP(NANOS); read as long
        # and convert in tables.load_table (Spark has no ns timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ObjectHashAggregate (collect_set/collect_list/hll paths)
        # falls back to SORT-BASED aggregation after only 128 distinct
        # keys per partition by default — any realistic group count
        # triggers it and the whole aggregate pays a per-partition sort
        # (measured 2.1x on the 1M-row events aggregate at sf~1).
        # 128k keys/partition at ~1-2 KB per small-set buffer bounds
        # the map at ~128-256 MB/partition — safe on 4 GB+ executors;
        # aggregates with UNBOUNDED per-key state should not rely on
        # this and belong in countDistinct/Expand form instead.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "131072",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """A DataFrame of the driver-side ``rows`` under ``schema`` (a
    ``StructType`` or a DDL string), planned as a ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` plans as a ``LogicalRDD`` over a
    PythonRDD: every job that scans it (a broadcast build side runs
    its own collect job) forks Python worker processes to re-serialize
    the rows. An Arrow table crosses to the JVM once and scans as a
    ``LocalTableScan`` inside the JVM, with no Python worker. Each
    value goes through its field's ``DataType.toInternal`` first, the
    conversion ``createDataFrame`` applies to a list, so the two give
    the same rows (a naive ``datetime`` is still driver-local time)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*(schema.toInternal(r) for r in rows)))
    table = pa.Table.from_arrays(
        [
            pa.array(cols[i] if cols else [], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def run_concurrently(*calls):
    """Run the zero-argument ``calls`` on one driver thread each and
    return their results in call order.

    Each job on a local cluster pays a fixed floor (collect round trip
    plus job launch) that is mostly driver wait, not executor work;
    independent actions submitted from concurrent threads overlap
    those floors. Every call is wrapped with
    ``inheritable_thread_target`` here, on the calling thread, so the
    jobs it runs carry the caller's job group, description and
    scheduler pool (``cancelJobGroup`` and per-group accounting still
    see them). Every call settles before this returns: a failure is
    re-raised, the first in call order, only after the other calls
    have finished, so no commit is left running behind the caller.

    No call run through here may change session conf: a conf is
    session-wide, so it would leak into its siblings' plans
    (``txn.migrate_to_manifest`` does, and stays off these paths)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(call))
            for call in calls
        ]
    return [f.result() for f in futures]
