"""plans/run_record.py: the one per-query measurement path bench.py uses."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

import bench
from skiliopay_datapipeline_customer_spark.plans import run_record

RESIDUE = {"stored_rdds", "stored_mem_bytes", "old_gen_used_mb", "old_gc_cum_ms"}


def _lazy(spark, sf_dir):
    return spark.range(1000).select((F.col("id") % 7).alias("k")).groupBy("k").count()


def _eager(spark, sf_dir):
    n = spark.range(10).count()  # an action while the frame is built
    return spark.range(n)


def _pinned(spark, sf_dir):
    df = spark.range(100).persist()
    df.count()
    return df


def _boom(spark, sf_dir):
    raise ValueError("planted build failure")


def _fails_at_run_time(spark, sf_dir):
    return spark.range(3).select(F.raise_error(F.lit("planted run failure")))


def test_measure_splits_build_and_exec_jobs(spark, sf_dir):
    lazy = run_record.measure(spark, _lazy, sf_dir)
    assert "error" not in lazy
    assert lazy["build_jobs"] == 0 and lazy["jobs"] >= 1
    assert abs(lazy["s"] - lazy["build_s"] - lazy["exec_s"]) <= 0.002
    assert lazy["plan"]["hash_aggregates"] >= 1
    eager = run_record.measure(spark, _eager, sf_dir)
    assert eager["build_jobs"] >= 1
    assert eager["jobs"] > eager["build_jobs"]


def test_measure_restores_the_callers_job_group(spark, sf_dir):
    sc = spark.sparkContext
    with run_record.job_group(spark, "outer") as outer:
        run_record.measure(spark, _eager, sf_dir)
        assert sc.getLocalProperty("spark.jobGroup.id") == outer
        # the query's jobs ran under its own groups
        assert run_record.group_jobs(spark, outer) == set()
        spark.range(5).count()
    assert run_record.group_jobs(spark, outer)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_measure_reports_pins_and_residue_after_hygiene(spark, sf_dir):
    rec = run_record.measure(spark, _pinned, sf_dir)
    assert len(rec["pins"]) >= 1
    assert RESIDUE <= set(rec)
    # hygiene ran before the residue was read: the pin is gone
    assert rec["stored_rdds"] == 0 and rec["stored_mem_bytes"] == 0
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == 0


def test_a_raising_query_is_recorded_and_the_pass_goes_on(spark, sf_dir):
    recs = bench.timed_pass(
        spark,
        {"boom": _boom, "late": _fails_at_run_time, "ok": _lazy},
        ["boom", "late", "ok"],
        sf_dir,
    )
    assert recs["boom"]["error"] == "ValueError: planted build failure"
    assert recs["boom"]["jobs"] == 0 and "s" not in recs["boom"]
    assert "planted run failure" in recs["late"]["error"]
    assert recs["late"]["jobs"] >= 1
    assert RESIDUE <= set(recs["boom"]) and RESIDUE <= set(recs["late"])
    assert "error" not in recs["ok"] and recs["ok"]["s"] >= 0
    assert bench._failures(recs) == {
        "boom": recs["boom"]["error"],
        "late": recs["late"]["error"],
    }


def test_fit_line_leaves_per_query_records_in_the_file():
    names = [f"query_with_a_long_name_{i:03d}" for i in range(26)]
    times = {n: 1.234 for n in names}
    rec = {
        "s": 1.234, "build_s": 0.2, "exec_s": 1.034, "jobs": 12,
        "build_jobs": 3, "pins": ["7:LocalCheckpointRDD"],
        "plan": {"exchanges": 4, "scans": 3, "has_cartesian": False},
        "stored_rdds": 0, "stored_mem_bytes": 0,
        "old_gen_used_mb": 88.1, "old_gc_cum_ms": 120,
    }
    out = {
        "metric": "headline_queries_total_time",
        "value": 32.084,
        "unit": "sec",
        "queries": times,
        "warm_total": 30.0,
        "queries_warm": dict(times),
        "sf": 0.1,
        "plan_warmed": True,
        "cpus": 4,
        "deltas": {"vs_round": 13, "ratios": {n: 1.01 for n in names}, "flagged": []},
        "query_records": {
            "cold": {n: dict(rec) for n in names},
            "warm": {n: dict(rec) for n in names},
        },
    }
    line = bench._fit_line(out, record="BENCH_IDLE_r99.json")
    assert len(line) <= bench._DRIVER_TAIL_BUDGET
    parsed = json.loads(line)
    assert "query_records" not in parsed
    assert parsed["value"] == 32.084 and parsed["queries"] == times
    assert "query_records" in out  # the caller's record keeps them


# The headline queries that still leave a persisted RDD behind: the ones
# SCALE.md's "Spark actions at build time" table keeps a pin for. Every
# other headline query must return a lazy plan that pins nothing.
KEPT_PINS = {
    "ngram_jaccard_dups",
    "dedup_clusters",
    "curated_selection_pipeline",
}


def test_only_the_kept_pins_survive_a_headline_query(spark, sf_dir):
    from skiliopay_datapipeline_customer_spark.queries import all_queries

    queries = all_queries()
    recs = bench.timed_pass(spark, queries, bench.HEADLINE, sf_dir)
    assert not bench._failures(recs)
    pinned = {name for name, rec in recs.items() if rec["pins"]}
    assert pinned == KEPT_PINS
    # the pinned-family LSH queries run no action while they are built
    for name in ("lsh_dup_pairs", "lsh_dup_pairs_fast"):
        assert recs[name]["build_jobs"] == 0, recs[name]


def test_lsh_dup_pairs_runs_one_map_and_one_group_python_stage(spark, sf_dir):
    """The executed plan of the LSH query holds one bucketing MapInPandas
    and one verify FlatMapGroupsInPandas, and no scalar Python UDF (a
    pushed-down filter over one ran the bucket kernel twice per vector)."""
    import re

    from skiliopay_datapipeline_customer_spark.queries import all_queries

    df = all_queries()["lsh_dup_pairs_fast"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "ArrowEvalPython" not in final, final
    assert len(re.findall(r"\bMapInPandas\b", final)) == 1, final
    assert len(re.findall(r"\bFlatMapGroupsInPandas\b", final)) == 1, final
