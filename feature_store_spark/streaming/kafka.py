"""Kafka source/sink wiring (SURVEY.md §2.1 S4/S5; reference
`src/pipelines/feature_pipeline.py:45-76,268-309`).

The reference hand-rolls a consumer poll loop (≤100 records/poll,
async offset commit, 5 s error backoff) and an acks=all producer.
Structured Streaming's Kafka connector subsumes all of that: offsets
live in the checkpoint (exactly-once source semantics), backoff and
retries are engine-managed, and batch size falls out of micro-batch
planning (``maxOffsetsPerTrigger`` plays the poll-cap role).

This container ships without the spark-sql-kafka connector jar, so
these builders raise a clear error at use; the downstream plan they
feed (``dispatch_events`` → windows → ``foreachBatch``) is identical
to the file-stream path tests exercise — swapping source/sink is a
config change, not a pipeline change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# JSON event payload schema (reference event shape:
# `src/pipelines/feature_pipeline.py:122-131`).
EVENT_JSON_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", StringType()),  # ISO-8601 in the payload
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def kafka_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def kafka_event_stream(
    spark: SparkSession,
    brokers: str,
    topic: str = "feature-updates",
    max_offsets_per_trigger: int = 10000,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Streaming reader over the reference's ``feature-updates`` topic:
    value bytes → JSON → typed event columns, same schema as
    ``read_event_stream`` so every downstream transform is shared."""
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via spark.jars."
            "packages (use streaming.read_event_stream for file replay)"
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), EVENT_JSON_SCHEMA).alias("e")
    )
    return parsed.select(
        F.col("e.event_id").alias("event_id"),
        F.to_timestamp("e.ts").alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )


def kafka_publish(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
):
    """Streaming producer (reference acks=all publisher): rows are
    serialized to JSON values keyed by ``key_col`` (key-partitioned so
    per-user ordering survives, like the reference's keyed produce).
    Returns the started StreamingQuery."""
    spark = df.sparkSession
    if not kafka_available(spark):
        raise RuntimeError(
            "spark-sql-kafka connector not on classpath; add "
            "org.apache.spark:spark-sql-kafka-0-10_2.13 via spark.jars."
            "packages (or land events as files and merge them with "
            "streaming.run_streaming_upsert_manifest)"
        )
    payload = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
