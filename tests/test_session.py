"""``session.local_frame``: the Arrow-built driver-side frame must hold
exactly the rows ``spark.createDataFrame(<list>)`` builds from the same
list (kept here as the reference), and must plan as a
``LocalRelation``, never a Python RDD."""

from __future__ import annotations

import datetime
import decimal
import time

import pytest

from feature_store_spark.session import local_frame

DDL = (
    "b boolean, d date, ts timestamp, tsn timestamp_ntz, "
    "dec decimal(12,3), s string, l long, x double"
)
UTC = datetime.timezone.utc

ROWS = [
    (
        True,
        datetime.date(2024, 3, 10),
        # naive: driver-local wall time (a DST-gap day in New York)
        datetime.datetime(2024, 3, 10, 1, 30, 0, 123456),
        datetime.datetime(2024, 3, 10, 2, 30, 0, 654321),
        decimal.Decimal("1.250"),
        "a",
        1 << 40,
        float("nan"),
    ),
    (None, None, None, None, None, None, None, None),
    (
        False,
        datetime.date(1960, 1, 1),
        datetime.datetime(1960, 6, 1, 12, 0, 0, 999999, tzinfo=UTC),
        datetime.datetime(1901, 1, 1),
        decimal.Decimal("-123456789.000"),
        "héllo",
        -5,
        float("-inf"),
    ),
    (
        True,
        datetime.date(2000, 2, 29),
        datetime.datetime(
            2024, 1, 1, 0, 0, 0, 1,
            tzinfo=datetime.timezone(datetime.timedelta(hours=5, minutes=30)),
        ),
        datetime.datetime(2024, 1, 1, 23, 59, 59, 999999),
        decimal.Decimal("0.001"),
        "",
        0,
        1.5,
    ),
]


@pytest.fixture
def non_utc(spark, monkeypatch):
    """A non-UTC session time zone and a different non-UTC driver-local
    zone, restored afterwards."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
        monkeypatch.undo()
        time.tzset()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe_list(spark, non_utc, rows):
    ref = spark.createDataFrame(rows, DDL)
    got = local_frame(spark, rows, DDL)
    assert got.schema == ref.schema
    # repr: exact datetimes/decimals, and NaN compares equal to itself
    assert [repr(r) for r in got.collect()] == [
        repr(r) for r in ref.collect()
    ]
    # and the session zone renders both identically JVM-side
    cols = ["cast(ts as string)", "cast(tsn as string)", "cast(d as string)"]
    assert got.selectExpr(*cols).collect() == ref.selectExpr(*cols).collect()


def test_local_frame_plans_as_local_relation(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("user_id", LongType(), False)])
    for df in (
        local_frame(spark, [(1,), (2,)], schema),
        local_frame(spark, [], "user_id long"),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
    assert local_frame(spark, [(1,), (2,)], schema).schema == schema
