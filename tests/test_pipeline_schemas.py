"""Reads whose schema the driver already knows: ``io.table``'s memoized
file schemas and the layers the pipelines read back with the schema they
wrote. A schema-less ``spark.read.parquet`` runs a Spark job over the
footers; these reads must not, and must still see what is on disk."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark import io
from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.pipelines import MedallionPipeline
from skiliopay_datapipeline_customer_spark.pipelines import medallion, warehouse
from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
    build_star_schema,
)


def _write_table(spark, df, path):
    """One parquet FILE at ``path`` (what ``io.table`` reads)."""
    tmp = path + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    os.replace(os.path.join(tmp, part), path)
    shutil.rmtree(tmp)


def test_table_memo_sees_a_rewritten_file(spark, tmp_path, group_jobs):
    path = str(tmp_path / "t.parquet")
    _write_table(spark, spark.createDataFrame([(1, "a")], "k long, v string"), path)
    first, _, inferred = group_jobs(lambda: table(spark, str(tmp_path), "t"))
    assert first.columns == ["k", "v"] and len(inferred) == 1
    again, _, inferred = group_jobs(lambda: table(spark, str(tmp_path), "t"))
    assert again.columns == ["k", "v"] and not inferred
    assert [tuple(r) for r in again.collect()] == [(1, "a")]

    # rewritten with a new column: a new (mtime, size) key, inferred again
    _write_table(
        spark,
        spark.createDataFrame([(2, "b", 2.5)], "k long, v string, w double"),
        path,
    )
    new, _, inferred = group_jobs(lambda: table(spark, str(tmp_path), "t"))
    assert new.columns == ["k", "v", "w"] and len(inferred) == 1
    assert [tuple(r) for r in new.collect()] == [(2, "b", 2.5)]


def test_table_directory_is_inferred_every_time(spark, tmp_path, group_jobs):
    path = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    for _ in range(2):
        df, _, inferred = group_jobs(lambda: table(spark, str(tmp_path), "d"))
        assert df.columns == ["k", "v"] and len(inferred) == 1
    assert os.path.abspath(path) not in io._SCHEMAS


@pytest.mark.parametrize("values", [["01", "02"], ["2024-01-02"]])
def test_medallion_partitioned_layer_keeps_its_written_types(
    spark, tmp_path, values
):
    """Partition discovery re-types a string partition column on a
    schema-less read ("01" -> int 1, a yyyy-MM-dd string -> date). The
    layers are read back with the written schema, so silver and gold see
    the string the source had."""
    src = spark.createDataFrame(
        [(v, i, float(i)) for i, v in enumerate(values)],
        "k string, id long, amt double",
    )
    seen = []

    def gold(df):
        seen.append(df)
        return df.select("k", "id")

    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        feature_transforms=[gold],
        clean_kwargs={"key_cols": ["id"]},
        quality_kwargs={"key_columns": ["id"]},
        partition_by=["k"],
    )
    result = pipe.run(spark, src)
    assert dict(seen[0].dtypes)["k"] == "string"
    assert sorted(r["k"] for r in seen[0].collect()) == sorted(values)
    for layer in ("silver", "gold"):
        assert sorted(
            d for d in os.listdir(result[layer]) if d.startswith("k=")
        ) == sorted(f"k={v}" for v in values)


def test_read_back_schemas_equal_the_inferred_ones(spark, sf_dir, tmp_path, monkeypatch):
    """Every layer read back with its written schema reads as a
    schema-less read of the same path would: unpartitioned bronze, silver,
    dim_date and dim_user, and fact_orders with its int ``year``."""
    read_back = []

    def recording(spark, df, path):
        out = io.read_written(spark, df, path)
        read_back.append((path, out.schema))
        return out

    monkeypatch.setattr(medallion, "read_written", recording)
    monkeypatch.setattr(warehouse, "read_written", recording)
    MedallionPipeline(
        base_dir=str(tmp_path / "m"),
        clean_kwargs={"key_cols": ["o_orderkey"], "numeric_impute": ["o_totalprice"]},
        quality_kwargs={"key_columns": ["o_orderkey"]},
    ).run(spark, table(spark, sf_dir, "orders"))
    build_star_schema(spark, sf_dir, str(tmp_path / "w"))
    names = sorted(os.path.basename(p) for p, _ in read_back)
    assert names == ["bronze", "dim_date", "dim_user", "fact_orders", "silver"]
    for path, schema in read_back:
        assert schema == spark.read.parquet(path).schema, path
    fo = dict(read_back)[str(tmp_path / "w" / "fact_orders")]
    assert fo["year"].dataType.simpleString() == "int"


def test_daily_layers_run_pinned_jobs_and_no_schema_inference(
    spark, sf_dir, tmp_path, group_jobs
):
    """Job-count guard for the daily job's medallion and warehouse steps
    (AQE off: one job per action, plus one per broadcast). Medallion: the
    bronze write, the gate's two actions, silver's statistics, the silver
    and gold writes. Warehouse: the dim_date bounds, the four writes, the
    two FK counts and the four broadcasts (nation and region into dim_user,
    each dimension into its FK anti-join). None of the jobs is a
    schema-inference job: the inputs' file schemas are memoized by
    ``io.table`` (inferred once per file version, here up front) and every
    layer is read back with the schema it was written with."""
    for name in ("orders", "customer", "nation", "region", "events"):
        table(spark, sf_dir, name)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pipe = MedallionPipeline(
            base_dir=str(tmp_path / "m"),
            feature_transforms=[
                lambda df: df.groupBy("o_custkey").agg(F.count("*").alias("n"))
            ],
            clean_kwargs={
                "key_cols": ["o_orderkey"],
                "numeric_impute": ["o_totalprice"],
                "clip_cols": ["o_totalprice"],
            },
            quality_kwargs={
                "key_columns": ["o_orderkey"],
                "completeness_columns": ["o_orderkey", "o_custkey", "o_totalprice"],
                "outlier_columns": ["o_totalprice"],
            },
        )
        _, jobs, inferred = group_jobs(
            lambda: pipe.run(spark, table(spark, sf_dir, "orders"))
        )
        assert (len(jobs), inferred) == (6, set())
        _, jobs, inferred = group_jobs(
            lambda: build_star_schema(spark, sf_dir, str(tmp_path / "w"))
        )
        assert (len(jobs), inferred) == (11, set())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
