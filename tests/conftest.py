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
    from skiliopay_datapipeline_customer_spark.plans import run_record

    def run(fn):
        with run_record.job_group(spark, "group-jobs") as group:
            result = fn()
        jobs = run_record.group_jobs(spark, group)
        return result, jobs, run_record.non_sql_jobs(spark, jobs)

    return run
