from __future__ import annotations

import os
import uuid

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


@pytest.fixture
def job_budget(spark):
    """``job_budget(call)`` runs ``call()`` under a fresh job group and
    returns (its result, the number of Spark jobs it ran). Jobs it runs
    outside that group count too, so none escape the budget."""
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")

    def run(call):
        group = f"job-budget-{uuid.uuid4().hex}"
        saved = {k: sc.getLocalProperty(k) for k in props}
        ungrouped = _job_ids(spark, None)
        sc.setJobGroup(group, "job budget")
        try:
            out = call()
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
        jobs = _job_ids(spark, group) | (_job_ids(spark, None) - ungrouped)
        return out, len(jobs)

    return run
