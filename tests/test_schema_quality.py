"""Unit tests for the schema compiler and quality-report aggregators."""

from __future__ import annotations

from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.plans import quality as Q
from skiliopay_datapipeline_customer_spark.queries.validation import CUSTOMER_SCHEMA
from skiliopay_datapipeline_customer_spark.schema import (
    conformance_report,
    to_struct_type,
    validate,
)


def test_struct_type_nullability():
    st = to_struct_type(CUSTOMER_SCHEMA)
    nullable = {f.name: f.nullable for f in st.fields}
    assert nullable["c_custkey"] is False
    assert nullable["c_acctbal"] is True


def test_validate_flags_bad_rows(spark):
    df = spark.createDataFrame(
        [
            (1, "Customer#1", 3, 100.0, "BUILDING"),
            (-5, "nope", 99, 20000.0, "UNKNOWN"),
            (None, None, None, None, None),
        ],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string",
    )
    out = validate(df, CUSTOMER_SCHEMA).orderBy(F.col("c_custkey").asc_nulls_last())
    rows = out.collect()
    assert rows[1]["_valid"] is True and rows[1]["_errors"] == []
    bad = rows[0]
    assert set(bad["_errors"]) == {
        "c_custkey_min",
        "c_name_pattern",
        "c_nationkey_max",
        "c_acctbal_max",
        "c_mktsegment_enum",
    }
    nulls = rows[2]
    assert set(nulls["_errors"]) == {
        "c_custkey_required",
        "c_name_required",
        "c_mktsegment_required",
    }


def test_conformance_report(spark):
    df = spark.createDataFrame(
        [(1, "x")], "c_custkey long, extra string"
    )
    rep = conformance_report(df, CUSTOMER_SCHEMA)
    statuses = {r["column"]: r["status"] for r in rep}
    assert statuses["c_name"] == "missing"
    assert statuses["extra"] == "unexpected"


def test_quality_gate_on_clean_star_schema(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    report = Q.run_quality_checks(
        orders,
        key_columns=["o_orderkey"],
        completeness_columns=["o_orderkey", "o_custkey", "o_totalprice"],
        validity_rules={
            "negative_price": F.col("o_totalprice") < 0,
            "bad_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
        },
        consistency_invariants={"date_in_future": F.col("o_orderdate") > F.lit("2030-01-01")},
        outlier_columns=["o_totalprice"],
    )
    assert report.details["uniqueness"]["key_uniqueness"]["o_orderkey"] == 1.0
    assert report.details["validity"]["violations"]["negative_price"] == 0
    assert 0 < report.overall <= 1.0
    assert report.passed


def test_quality_gate_fails_on_dirty_data(spark):
    df = spark.createDataFrame(
        [(1, None), (1, None), (1, None), (2, 5.0)], "k long, v double"
    )
    report = Q.run_quality_checks(
        df,
        key_columns=["k"],
        completeness_columns=["v"],
        validity_rules={"v_negative": F.col("v") < 0},
        outlier_columns=[],
    )
    assert report.details["completeness"]["flagged"] == ["v"]
    assert report.details["uniqueness"]["score"] < 0.8
    assert not report.passed


def test_salted_join_matches_plain_join(spark, sf_dir):
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.operators.joins import salted_join

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(customer, "o_custkey")
    salted = salted_join(orders, customer, "o_custkey", salt_buckets=8)
    assert salted.count() == plain.count()
    assert (
        salted.select("o_orderkey", "c_mktsegment")
        .exceptAll(plain.select("o_orderkey", "c_mktsegment"))
        .count()
        == 0
    )


def test_outliers_approx_tier_tracks_exact_fences(spark, sf_dir):
    """The 100 TB profiler path (approx_percentile, accuracy 10k) must land
    within a tight band of the exact-percentile outlier rates — the sketch's
    rank error is 1/accuracy, so per-column rates may differ only by a few
    boundary rows."""
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.plans.quality import outliers

    df = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    exact = outliers(df, cols)
    approx = outliers(df, cols, approx=True)
    assert exact["n_rows"] == approx["n_rows"]
    for c in cols:
        assert abs(exact["outlier_rates"][c] - approx["outlier_rates"][c]) < 0.002, c
    assert exact["flagged"] == approx["flagged"]


def test_rolling_7d_hll_tier_tracks_exact_tier(spark, sf_dir):
    """The sketch tier's estimates land within HLL tolerance (<5% here) of
    the exact rolling-7d distinct counts, day by day."""
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all

    load_all()
    exact = {
        r["d"]: r["active_7d"]
        for r in QUERIES["rolling_7d_active_users"](spark, sf_dir).collect()
    }
    approx = {
        r["d"]: r["active_7d_approx"]
        for r in QUERIES["rolling_7d_active_users_hll"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx) and len(exact) > 10
    for d, n in exact.items():
        assert abs(approx[d] - n) <= max(2, 0.05 * n), (d, n, approx[d])


def test_profile_sketches_track_exact_profile(spark, sf_dir):
    """The sketch profiler's estimates land within their estimators'
    tolerance of the exact per-flag profile (measured r8: parts ≤0.95%,
    suppliers ≤3.0%, median ≤0.021%, total ≤1.27% at sf0.01/sf0.1). A
    DuckDB hash oracle is impossible here — DuckDB's approx_count_distinct
    / approx_quantile are different estimators than Spark's DataSketches
    HLL / QuantileSummaries — so the tolerance band IS the contract."""
    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all

    load_all()
    ps = {
        r["l_returnflag"]: r
        for r in QUERIES["profile_sketches"](spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_suppkey").alias("supps"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        )
        .collect()
    }
    total = li.agg(F.countDistinct("l_partkey")).collect()[0][0]
    assert set(ps) == set(exact) and len(ps) >= 3
    for f, e in exact.items():
        assert abs(ps[f]["parts_approx"] - e["parts"]) <= max(2, 0.03 * e["parts"])
        assert abs(ps[f]["suppliers_approx"] - e["supps"]) <= max(2, 0.06 * e["supps"])
        assert abs(ps[f]["median_price_approx"] - e["med"]) <= 0.002 * e["med"]
        assert abs(ps[f]["parts_total_approx"] - total) <= max(2, 0.03 * total)


def test_seasonal_anomalies_null_nan_values_drop_not_raise(spark, sf_dir, tmp_path):
    """A NULL or NaN event value must drop out of anomaly membership (the
    oracle's NULL-comparison semantics) — NOT masquerade as a decimal(38,0)
    overflow and abort the query. Runs the registered query on a mutated
    events table and checks full oracle parity with the same NULL/NaN guard
    applied to the SQL."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.parity import (
        compare_frames,
        duckdb_connection,
    )
    from skiliopay_datapipeline_customer_spark.queries import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()
    mutated = table(spark, sf_dir, "events").withColumn(
        "value",
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("double"))
        .when(F.col("event_id") % 101 == 0, F.lit(float("nan")))
        .otherwise(F.col("value")),
    )
    mutated.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_ev"))
    (part,) = glob.glob(str(tmp_path / "_ev" / "part-*.parquet"))
    shutil.move(part, tmp_path / "events.parquet")
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")

    out = QUERIES["seasonal_value_anomalies"](spark, str(tmp_path)).toPandas()
    assert (out["event_id"] % 97 != 0).all() and (out["event_id"] % 101 != 0).all()
    con = duckdb_connection(str(tmp_path))
    try:
        guarded = ORACLES["seasonal_value_anomalies"].replace(
            "CAST(round(value * 100) AS BIGINT)",
            "CASE WHEN value IS NOT NULL AND NOT isnan(value) "
            "THEN CAST(round(value * 100) AS BIGINT) END",
        )
        assert guarded != ORACLES["seasonal_value_anomalies"]
        opdf = con.execute(guarded).fetchdf()
    finally:
        con.close()
    assert compare_frames(out, opdf) == []


_GATE_COLUMNS = ["id", "amt.usd", "qty", "score", "tag"]


def _gate_rows():
    """Rows with NULLs, NaN (never in a column where it could be confused
    with a NULL of an otherwise identical row), duplicate rows, duplicate
    keys, a violated rule, outliers, and a dotted column name."""
    rows = []
    for i in range(120):
        amt = None if i % 19 == 0 else float((i * 37) % 50) + 0.25
        if i in (7, 61):
            amt = 900.0 + i  # far above the upper fence
        if i == 88:
            amt = -700.0  # far below the lower fence
        qty = None if i % 11 == 0 else (i * 13) % 29 - 3  # a few negatives
        if i in (5, 52):
            qty = 400 + i
        score = float("nan") if i % 23 == 0 else (None if i % 17 == 0 else i / 7.0)
        tag = None if i % 5 == 0 else ["a", "b", "c"][i % 3]
        rows.append((i % 100, amt, qty, score, tag))  # ids 0-19 repeat
    # exact duplicate rows, among them a NaN row and two outlier rows
    rows += [rows[3], rows[3], rows[23], rows[7], rows[52]]
    return rows


def _pandas_gate(rows, k=1.5, approx=False):
    """The gate's statistics computed with pandas on the driver, from the
    same rows, under Spark's semantics: NaN is a value (not NULL), equal
    to itself and above every number; NULLs are skipped by distinct
    counts and percentiles; exact fences interpolate linearly, approx
    fences are the element of rank ceil(p·n)."""
    import math

    import pandas as pd

    pdf = pd.DataFrame(rows, columns=_GATE_COLUMNS, dtype=object)

    def nan_token(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    n_rows = len(pdf)
    n = n_rows or 1
    nulls = {c: int(pdf[c].map(lambda v: v is None).sum()) for c in pdf.columns}
    rates = {c: nulls[c] / n for c in pdf.columns}
    distinct_rows = len(pdf.map(nan_token).drop_duplicates())
    keys = ["id", "tag"]
    key_uniq = {
        c: len({nan_token(v) for v in pdf[c] if v is not None}) / n for c in keys
    }
    dup_rate = 1.0 - distinct_rows / n
    rules = {"neg_qty": int(pdf["qty"].map(lambda v: v is not None and v < 0).sum())}
    invariants = {
        "qty_above_id": int(
            ((pdf["qty"].map(lambda v: v is not None)) & (pdf["qty"] > pdf["id"])).sum()
        )
    }

    def fences(c):
        vals = pd.Series([v for v in pdf[c] if v is not None], dtype="float64")
        if vals.empty:
            return None
        if approx:
            srt = sorted(vals)
            q1, q3 = (srt[max(math.ceil(p * len(srt)), 1) - 1] for p in (0.25, 0.75))
        else:
            q1, q3 = vals.quantile([0.25, 0.75]).tolist()
        iqr = q3 - q1
        return q1 - k * iqr, q3 + k * iqr

    out_rates = {}
    for c in ("amt.usd", "qty"):
        f = fences(c)
        hits = 0 if f is None else sum(
            1 for v in pdf[c] if v is not None and (v < f[0] or v > f[1])
        )
        out_rates[c] = hits / n

    def checks(counts):
        issues = sum(1 for v in counts.values() if v > 0)
        return {
            "violations": counts,
            "score": 1.0 - issues / len(counts),
            "n_rows": n_rows,
        }

    return {
        "completeness": {
            "null_rates": rates,
            "flagged": [c for c, r in rates.items() if r > 0.10],
            "score": 1.0 - sum(nulls.values()) / (n * len(rates)),
            "n_rows": n_rows,
        },
        "uniqueness": {
            "key_uniqueness": key_uniq,
            "dup_row_rate": dup_rate,
            "score": sum(key_uniq.values()) / len(keys) * (1.0 - dup_rate),
            "n_rows": n_rows,
        },
        "validity": checks(rules),
        "consistency": checks(invariants),
        "outliers": {
            "outlier_rates": out_rates,
            "flagged": [c for c, r in out_rates.items() if r > 0.05],
            "score": 1.0 - sum(out_rates.values()) / len(out_rates),
            "n_rows": n_rows,
        },
    }


def _gate(df, approx):
    return Q.run_quality_checks(
        df,
        key_columns=["id", "tag"],
        validity_rules={"neg_qty": F.col("qty") < 0},
        consistency_invariants={"qty_above_id": F.col("qty") > F.col("id")},
        outlier_columns=["amt.usd", "qty"],
        approx=approx,
    )


def _assert_details_match(got, want):
    import pytest

    assert got.keys() == want.keys()
    for report, fields in want.items():
        assert got[report].keys() == fields.keys(), report
        for key, value in fields.items():
            if isinstance(value, (dict, float)):
                assert got[report][key] == pytest.approx(value, rel=1e-12), (
                    report,
                    key,
                )
            else:
                assert got[report][key] == value, (report, key)


def test_quality_gate_details_equal_pandas_computation(spark):
    """Every statistic of `run_quality_checks(...).details` equals the
    same statistic computed with pandas from the same rows — for exact
    and approx fences and on an empty frame — so the two-action gate is
    pinned against an independent oracle, not against its own earlier
    composition."""
    rows = _gate_rows()
    schema = "id long, `amt.usd` double, qty long, score double, tag string"
    df = spark.createDataFrame(rows, schema)
    for approx in (False, True):
        want = _pandas_gate(rows, approx=approx)
        # the frame exercises every path it claims to
        assert want["uniqueness"]["dup_row_rate"] > 0
        assert want["uniqueness"]["key_uniqueness"]["id"] < 1.0
        assert want["validity"]["violations"]["neg_qty"] > 0
        assert all(r > 0 for r in want["outliers"]["outlier_rates"].values())
        assert want["completeness"]["null_rates"]["score"] > 0
        report = _gate(df, approx)
        _assert_details_match(report.details, want)
        assert report.scores == {k: report.details[k]["score"] for k in Q.WEIGHTS}

    empty = spark.createDataFrame([], schema)
    for approx in (False, True):
        report = _gate(empty, approx)
        _assert_details_match(report.details, _pandas_gate([], approx=approx))


def test_quality_gate_runs_in_two_jobs(spark):
    """With AQE off (one job per action) the composite gate launches
    exactly two Spark jobs, whatever the number of columns and rules."""
    import uuid

    df = spark.createDataFrame(
        _gate_rows(), "id long, `amt.usd` double, qty long, score double, tag string"
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for approx in (False, True):
            group = f"quality-gate-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                _gate(df, approx)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
