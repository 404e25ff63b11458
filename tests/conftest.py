from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from feature_store_spark.session import get_spark

    s = get_spark("feature_store_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from feature_store_spark.oracle import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()


def _job_ids(spark, group):
    """Ids of the jobs run so far under job group ``group`` (None: the
    jobs run outside any group)."""
    # the status tracker is fed by the listener bus; drain it first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def job_ids(spark):
    """``job_ids(group)``: the ids of the jobs run so far in ``group``."""
    return lambda group: _job_ids(spark, group)


def _last_job_id(spark) -> int:
    """Id of the newest job the session has started (-1 before any).
    Job ids count up from 0 across the session, whatever thread or job
    group starts the job."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


@pytest.fixture
def job_budget(spark):
    """``job_budget(call)`` runs ``call()`` and returns (its result, the
    number of Spark jobs started while it ran). Counting by job id
    lets no job escape the budget: neither one a call starts on
    another thread nor one under its own job group (a streaming
    query's micro-batches)."""

    def run(call):
        before = _last_job_id(spark)
        out = call()
        return out, _last_job_id(spark) - before

    return run
