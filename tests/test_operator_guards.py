"""Guards and determinism contracts added by the r05 operator audit:
salted_join outer-join replication guard, LSH banding divisibility,
as-of tie determinism, streaming sink defaults."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_salted_join_rejects_outer_joins(spark):
    """The right side is replicated salt_buckets times — an unmatched right
    row would surface once per replica under right/full outer joins."""
    from skiliopay_datapipeline_customer_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "VN")], "id int, country string")
    right = spark.createDataFrame([("VN", 9), ("US", 7)], "country string, x int")
    for how in ("right", "full", "outer", "left_anti"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, key="country", how=how)
    # inner/left still work and never multiply rows
    inner = salted_join(left, right, key="country", salt_buckets=4).collect()
    assert [(r["id"], r["x"]) for r in inner] == [(1, 9)]
    lj = salted_join(left, right, key="country", salt_buckets=4, how="left")
    assert lj.count() == 1


def test_banding_rejects_indivisible_hash_family(spark, sf_dir):
    """num_hashes % bands != 0 silently dropped trailing hashes before the
    guard; now it raises instead of computing a different signature than
    the caller asked for."""
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.operators.dedup import (
        minhash_band_buckets,
    )
    from skiliopay_datapipeline_customer_spark.operators.similarity import (
        lsh_dup_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="divisible"):
        minhash_band_buckets(docs, num_hashes=32, bands=6)
    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="divisible"):
        lsh_dup_pairs(emb, num_planes=16, bands=6)


def test_asof_join_tie_on_right_side_is_deterministic(spark):
    """Two right rows sharing (key, time): the greatest payload struct wins
    regardless of partition placement (was last-writer-by-placement)."""
    from skiliopay_datapipeline_customer_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, t long")
    # same (k, t) twice with different payloads, adversarial partitioning
    right_a = spark.createDataFrame(
        [(1, 10, "A"), (1, 10, "B")], "k int, t long, pay string"
    ).repartition(7)
    right_b = spark.createDataFrame(
        [(1, 10, "B"), (1, 10, "A")], "k int, t long, pay string"
    ).repartition(3)
    outs = set()
    for right in (right_a, right_b):
        out = asof_join(
            left, right, key="k", left_time="t", right_time="t",
            right_payload=["pay"],
        ).collect()
        outs.add(out[0]["_asof"]["pay"])
    assert outs == {"B"}  # greatest payload, both layouts


def test_run_available_now_defaults_memory_sink_name(spark, tmp_path):
    """The memory sink requires a query name; the bare df+checkpoint call
    shape must synthesize one instead of crashing."""
    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        run_available_now,
    )

    src = str(tmp_path / "in")
    spark.range(5).select(F.col("id")).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    run_available_now(stream, str(tmp_path / "ckpt_abc"))
    got = spark.sql("SELECT count(*) AS n FROM mem_ckpt_abc").first()["n"]
    assert got == 5


def test_jdbc_exactly_once_sink_schema_qualified_table(spark, tmp_path):
    """A schema-qualified table name must still find the table in the
    existence probe — getTables matches the bare name only, so the
    pre-fix code skipped the epoch DELETE forever and a replayed batch
    double-appended."""
    from skiliopay_datapipeline_customer_spark.sources.jdbc import read_jdbc
    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        jdbc_exactly_once_sink,
    )

    url = f"jdbc:derby:{tmp_path}/whq;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    sink = jdbc_exactly_once_sink(url, "ana.events_load", properties=props)

    batch = spark.range(10).select(
        F.col("id").alias("event_id"), (F.col("id") % 3).alias("user_id")
    )
    sink(batch, 0)
    # replay the same epoch: the DELETE must fire (table now exists under
    # schema ANA) so the count stays 10, not 20
    sink(batch, 0)
    loaded = read_jdbc(spark, url, table="ana.events_load", properties=props)
    assert loaded.count() == 10


def test_scd2_merge_preserves_null_keyed_rows(spark):
    """Row presence comes from presence literals, not key nullness: a
    NULL-keyed open row / update must flow through the merge (pre-fix they
    fell through every branch and vanished from the history)."""
    from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
        scd2_merge,
    )

    def batch(rows):
        return spark.createDataFrame(rows, "user_id int, tier string")

    h = scd2_merge(None, batch([(1, "basic"), (None, "basic")]), "user_id",
                   ["tier"], batch_ts="2026-01-01 00:00:00")
    assert h.count() == 2
    # NULL key updates pair with the NULL-keyed open row like a key value
    h = scd2_merge(h, batch([(None, "gold")]), "user_id", ["tier"],
                   batch_ts="2026-02-01 00:00:00")
    rows = {(r["user_id"], r["tier"], r["is_current"]) for r in h.collect()}
    assert (None, "basic", False) in rows and (None, "gold", True) in rows
    assert (1, "basic", True) in rows and h.count() == 3


def test_clean_frame_degenerate_columns_pass_through(spark):
    """All-NULL impute/clip columns (or an empty frame) have no median/
    quartiles — clean_frame must pass them through, not crash on a None
    fillna value or None arithmetic."""
    from skiliopay_datapipeline_customer_spark.pipelines.medallion import (
        clean_frame,
    )

    df = spark.createDataFrame(
        [(1, None, None), (2, None, None)], "id int, x double, y double"
    )
    out = clean_frame(df, key_cols=["id"], numeric_impute=["x"], clip_cols=["y"])
    assert out.count() == 2
    assert out.filter(F.col("x").isNull() & F.col("y").isNull()).count() == 2
    empty = clean_frame(df.limit(0), numeric_impute=["x"], clip_cols=["y"])
    assert empty.count() == 0


def test_label_encode_all_null_column(spark):
    """No discovered classes → an all-NULL encoded column, not an
    .otherwise()-on-lit crash."""
    from skiliopay_datapipeline_customer_spark.functions.encoding import (
        label_encode,
    )

    df = spark.createDataFrame([(1, None), (2, None)], "id int, seg string")
    out = label_encode(df, "seg")
    assert out.filter(F.col("seg_encoded").isNull()).count() == 2


def test_compact_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves data only under
    ._compact_old; the next invocation restores and completes. A stale
    ._compact_old beside a healthy table is reclaimed, not a wedge."""
    import os
    import shutil

    from skiliopay_datapipeline_customer_spark.sources.catalog import (
        compact_small_files,
    )

    live = str(tmp_path / "t")
    spark.range(100).coalesce(4).write.parquet(live)
    n = spark.read.parquet(live).count()
    # simulate the mid-swap crash: table renamed away, tmp never promoted
    os.rename(live, live + "._compact_old")
    stats = compact_small_files(spark, live, target_file_bytes=10**12)
    assert spark.read.parquet(live).count() == n and stats["files_after"] >= 1
    # stale old dir beside a healthy table must not wedge the next run
    shutil.copytree(live, live + "._compact_old")
    stats2 = compact_small_files(spark, live, target_file_bytes=10**12)
    assert spark.read.parquet(live).count() == n and stats2["files_after"] >= 1
    assert not os.path.exists(live + "._compact_old")


def test_kmeans_profile_string_labels(spark):
    """The majority-label tiebreak must not negate the label column —
    string labels would ANSI-crash; ties break to the smallest label."""
    from skiliopay_datapipeline_customer_spark.ml.embeddings import (
        kmeans_cluster_profile,
    )

    rows = [(i, [float(i % 2), 1.0 - i % 2], "en" if i % 2 else "fr")
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    prof = kmeans_cluster_profile(
        df, k=2, id_col="vec_id", vec_col="embedding", label_col="label"
    ).collect()
    assert {r["majority_label"] for r in prof} <= {"en", "fr"}
    assert all(r["purity"] == 1.0 for r in prof)


def test_outliers_gate_handles_all_null_columns(spark):
    """IQR fences are undefined for an all-NULL column / empty frame — the
    composite quality gate must report a 0.0 rate, not TypeError on
    None - None."""
    from skiliopay_datapipeline_customer_spark.plans.quality import outliers

    df = spark.createDataFrame([(1, None), (2, None)], "id int, x double")
    rep = outliers(df, ["x"])
    assert rep["outlier_rates"]["x"] == 0.0 and rep["flagged"] == []
    empty = outliers(df.limit(0), ["x"])
    assert empty["outlier_rates"]["x"] == 0.0


def test_mad_outlier_report_counts_zero_for_all_null_group(
    spark, sf_dir, monkeypatch
):
    """An event_type whose values are all NULL must report n_outliers=0
    (the oracle's CASE...ELSE 0), not NULL from summing only NULL casts."""
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all
    from skiliopay_datapipeline_customer_spark.queries import analytics as A

    load_all()
    real_table = A.table
    nulls = spark.createDataFrame(
        [("ghost", None), ("ghost", None)], "event_type string, value double"
    )

    def with_ghost(spark_, d, name):
        df = real_table(spark_, d, name)
        return df.select("event_type", "value").unionByName(nulls) if name == "events" else df

    monkeypatch.setattr(A, "table", with_ghost)
    out = {r["event_type"]: r for r in QUERIES["mad_outlier_report"](
        spark, sf_dir).collect()}
    assert out["ghost"]["n_outliers"] == 0 and out["ghost"]["n"] == 2
    assert out["ghost"]["med"] is None


def test_session_window_boundary_semantics(spark):
    """Pin Spark's session_window gap boundary: an EXACT 30-minute gap
    merges (interval end is start+gap, merge on overlap-or-touch); only a
    strictly greater gap splits — the oracle's lag-SQL uses strict > to
    match."""
    import datetime

    from skiliopay_datapipeline_customer_spark.streaming.transforms import (
        session_stats,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def sessions(delta):
        df = spark.createDataFrame(
            [(1, 1, t0), (1, 2, t0 + delta)],
            "user_id long, event_id long, ts timestamp",
        )
        return session_stats(df).count()

    assert sessions(datetime.timedelta(minutes=30)) == 1
    assert sessions(datetime.timedelta(minutes=30, seconds=1)) == 2


def test_fan_out_auto_mode_skips_non_scan_plans(spark, sf_dir):
    """Auto-mode fan_out must return a shuffle-bearing plan untouched: the
    .rdd parallelism probe finalizes AQE and would execute the input's
    shuffle stages once for the probe and again for the real action. An
    explicit min_tasks opts into the probe."""
    from skiliopay_datapipeline_customer_spark.io import fan_out, table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    agg = docs.groupBy("doc_id").count()
    assert fan_out(agg) is agg
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert fan_out(joined) is joined
    # scans still widen in auto mode
    assert fan_out(docs).rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 8
    )


def test_fan_out_auto_mode_skips_set_operator_plans(spark):
    """DISTINCT, EXCEPT and INTERSECT plan as Distinct/Except/Intersect
    nodes in the analyzed plan (rewritten into aggregates and joins only
    by the optimizer); they shuffle all the same, so auto-mode fan_out
    must return them untouched instead of probing them."""
    from skiliopay_datapipeline_customer_spark.io import fan_out

    spark.range(0, 50, 1, 1).createOrReplaceTempView("fan_out_ids")
    distinct = spark.sql("SELECT DISTINCT id % 7 AS k FROM fan_out_ids")
    assert fan_out(distinct) is distinct
    ids = spark.range(0, 50, 1, 1)
    subtracted = ids.subtract(spark.range(0, 10, 1, 1))
    assert fan_out(subtracted) is subtracted
    both = ids.intersect(spark.range(0, 10, 1, 1))
    assert fan_out(both) is both


def test_fan_out_remote_scheme_uses_partition_probe(spark, tmp_path, monkeypatch):
    """A remote URI (hdfs://, s3a://) names a file on another file system,
    even when its path also exists locally: the local size estimate must
    not be used, and the exact .rdd probe decides. Planted: a one-task
    frame whose hdfs:// input path is a large local sparse file, so the
    estimate would call it wide enough and skip the rebalance."""
    from skiliopay_datapipeline_customer_spark.io import fan_out

    target = spark.sparkContext.defaultParallelism
    if target < 2:
        pytest.skip("needs a session with at least 2 cores")
    big = tmp_path / "part-0.parquet"
    with open(big, "wb") as f:
        f.truncate(target * (4 << 20) + 1)
    narrow = spark.range(0, 100, 1, 1)
    monkeypatch.setattr(
        narrow, "inputFiles", lambda: [f"hdfs://namenode:8020{big}"]
    )
    out = fan_out(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target


def test_order_trend_pandas_constant_date_yields_null(spark, tmp_path):
    """A customer whose n>=3 orders all share one date has var(x)==0: the
    slope is NULL (regr_slope semantics), not 0.0 — the driver corpora never
    exercise this, so plant the degenerate group and hash the planted table
    against the real oracle (the r8 ADVICE latent-mismatch case)."""
    import datetime

    from skiliopay_datapipeline_customer_spark.parity import run_parity
    from skiliopay_datapipeline_customer_spark.queries import olap

    import pandas as pd

    d0 = datetime.datetime(2026, 1, 1)
    rows = [(1, 100.0, d0), (1, 200.0, d0), (1, 300.0, d0)] + [
        (2, 100.0 + 10 * i, d0 + datetime.timedelta(days=i)) for i in range(3)
    ]
    # single parquet FILE (not a Spark part-file directory) so the DuckDB
    # oracle view reads the same path; microsecond timestamps — pandas'
    # default TIMESTAMP(NANOS) reads as BIGINT under the nanosAsLong config
    pd.DataFrame(
        rows, columns=["o_custkey", "o_totalprice", "o_orderdate"]
    ).to_parquet(str(tmp_path / "orders.parquet"), coerce_timestamps="us")

    out = {
        r["o_custkey"]: r["price_trend"]
        for r in olap.order_trend_pandas(spark, str(tmp_path)).collect()
    }
    assert out[1] is None  # constant x → NULL, never 0.0
    assert out[2] == 10.0  # +10/day
    from skiliopay_datapipeline_customer_spark.queries import ORACLES

    assert not run_parity(
        spark,
        str(tmp_path),
        "order_trend_pandas",
        olap.order_trend_pandas,
        ORACLES["order_trend_pandas"],
    )
