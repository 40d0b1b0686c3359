"""Concurrent Spark actions (``parallel.run_all``) and the failure
semantics of the two pipelines that use it."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.parallel import run_all


def _no_active_jobs(sc) -> bool:
    """Spark's status tracker hears of job ends through the listener bus:
    drain it before asking which jobs still run."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getActiveJobsIds()) == []


def test_run_all_returns_results_in_submission_order(spark):
    def slow(v, s):
        def fn():
            time.sleep(s)
            return v

        return fn

    assert run_all(spark, [slow("a", 0.2), slow("b", 0.0), slow("c", 0.1)]) == [
        "a",
        "b",
        "c",
    ]
    assert run_all(spark, []) == []
    assert run_all(spark, [lambda: 7]) == [7]


def test_run_all_raises_first_failure_after_every_callable_finished(spark):
    finished = []

    def fail(msg, s):
        def fn():
            time.sleep(s)
            finished.append(msg)
            raise RuntimeError(msg)

        return fn

    def ok():
        time.sleep(0.3)
        finished.append("ok")
        return 1

    # the second callable fails first in time; the first in submission
    # order is the one raised, and only once the slow sibling is done
    with pytest.raises(RuntimeError, match="^first$"):
        run_all(spark, [fail("first", 0.15), fail("second", 0.0), ok])
    assert sorted(finished) == ["first", "ok", "second"]


def test_run_all_jobs_keep_the_callers_job_group(spark, group_jobs):
    """Every job a pool thread starts runs under the caller's job group:
    the group holds as many jobs as the same actions run one by one."""
    df = spark.range(100)
    actions = [df.count, lambda: df.filter("id > 50").count()]
    serial, serial_jobs, _ = group_jobs(lambda: [a() for a in actions])
    pooled, pooled_jobs, _ = group_jobs(lambda: run_all(spark, actions))
    assert serial == pooled == [100, 49]
    assert len(pooled_jobs) == len(serial_jobs) >= 2


def test_star_schema_write_failure_surfaces_after_sibling_writes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """One of the four concurrent writes fails: the error reaches the
    caller only after the other three writes committed, and no job of the
    call is left running."""
    from skiliopay_datapipeline_customer_spark.pipelines import warehouse

    build = warehouse.build_fact_sessions

    def broken_sessions(spark, sf_dir):
        n = F.col("n_events")
        return build(spark, sf_dir).withColumn(
            "n_events",
            F.when(n >= 0, F.raise_error(F.lit("fact_sessions write failed")))
            .otherwise(n),
        )

    monkeypatch.setattr(warehouse, "build_fact_sessions", broken_sessions)
    base = tmp_path / "wh"
    with pytest.raises(Exception, match="fact_sessions write failed"):
        warehouse.build_star_schema(spark, sf_dir, str(base))
    for name in ("dim_date", "dim_user", "fact_orders"):
        assert os.path.exists(base / name / "_SUCCESS"), name
    assert not os.path.exists(base / "fact_sessions" / "_SUCCESS")
    assert _no_active_jobs(spark.sparkContext)


@pytest.mark.parametrize(
    "clean_kwargs",
    [
        {"key_cols": ["k"]},
        # the overlapped silver statistics fail as well: the gate's error wins
        {"numeric_impute": ["no_such_column"]},
    ],
)
def test_medallion_failed_gate_raises_its_error_and_leaves_no_job(
    spark, tmp_path, clean_kwargs
):
    from skiliopay_datapipeline_customer_spark.pipelines import MedallionPipeline

    bad = spark.createDataFrame(
        [(1, None), (1, None), (1, None)], "k long, v double"
    )
    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        clean_kwargs=clean_kwargs,
        quality_kwargs={"key_columns": ["k"], "completeness_columns": ["v"]},
    )
    with pytest.raises(ValueError, match="^quality gate failed: "):
        pipe.run(spark, bad)
    assert not os.path.exists(tmp_path / "silver")
    assert _no_active_jobs(spark.sparkContext)


def test_medallion_silver_error_surfaces_after_a_passed_gate(spark, tmp_path):
    """A passing gate lets the silver statistics' own error through,
    as it did when the statistics ran after the gate."""
    from pyspark.errors import AnalysisException

    from skiliopay_datapipeline_customer_spark.pipelines import MedallionPipeline

    good = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        clean_kwargs={"numeric_impute": ["no_such_column"]},
        quality_kwargs={"key_columns": ["k"], "completeness_columns": ["v"]},
    )
    with pytest.raises(AnalysisException):
        pipe.run(spark, good)
    assert not os.path.exists(tmp_path / "silver")
    assert _no_active_jobs(spark.sparkContext)
