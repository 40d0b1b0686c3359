from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from skiliopay_datapipeline_customer_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def group_jobs(spark):
    """``group_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    (result, job ids, ids of the jobs outside any SQL execution). Every
    DataFrame action runs inside a SQL execution; a schema-less parquet
    read runs its schema-inference (footer) job outside one, while the
    reader is built."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"group-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
        store = spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        sql_jobs = set()
        it = store.executionsList(max(0, n - 500), 500).iterator()
        while it.hasNext():
            keys = it.next().jobs().keys().iterator()
            while keys.hasNext():
                sql_jobs.add(keys.next())
        return result, jobs, jobs - sql_jobs

    return run
