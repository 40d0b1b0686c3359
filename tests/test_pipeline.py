"""Medallion pipeline + checkpoint cache tests (§3.1 lifecycle, C1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.pipelines import (
    CheckpointCache,
    MedallionPipeline,
    clean_frame,
)


def _dirty_orders(spark, sf_dir):
    """Orders with injected duplicates, nulls and an outlier."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderdate"
    )
    dupes = orders.limit(5)
    nulls = orders.limit(3).withColumn("o_totalprice", F.lit(None).cast("double"))
    return orders.unionByName(dupes).unionByName(nulls)


def test_clean_frame(spark, sf_dir):
    dirty = _dirty_orders(spark, sf_dir)
    n_unique = dirty.select("o_orderkey").distinct().count()
    cleaned = clean_frame(
        dirty,
        key_cols=["o_orderkey"],
        numeric_impute=["o_totalprice"],
        clip_cols=["o_totalprice"],
        casts={"o_custkey": "string"},
    )
    assert cleaned.count() == n_unique
    assert cleaned.filter(F.col("o_totalprice").isNull()).count() == 0
    assert dict(cleaned.dtypes)["o_custkey"] == "string"
    # clipped within IQR fences
    row = cleaned.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    raw = dirty.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    assert row[1] <= raw[1]


def test_medallion_end_to_end(spark, sf_dir, tmp_path):
    def gold_features(df):
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )

    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        feature_transforms=[gold_features],
        clean_kwargs={"key_cols": ["o_orderkey"], "numeric_impute": ["o_totalprice"]},
        quality_kwargs={
            "key_columns": ["o_orderkey"],
            "completeness_columns": ["o_orderkey", "o_custkey"],
            "validity_rules": {"neg_price": F.col("o_totalprice") < 0},
        },
    )
    src = table(spark, sf_dir, "orders")
    result = pipe.run(spark, src, source_name="orders.parquet")
    assert result["quality"].passed
    assert result["rows"]["silver"] == src.count()
    assert result["rows"]["gold"] == src.select("o_custkey").distinct().count()
    bronze = spark.read.parquet(result["bronze"])
    assert "_ingestion_timestamp" in bronze.columns


def test_ml_trains_and_evaluates_after_a_medallion_run(spark, sf_dir, tmp_path):
    """A medallion run leaves the session usable for ML: random forest and
    logistic regression models keep their training summaries, which hold
    the session, so a session that once registered an ``Observation``
    (the observation manager cannot be serialized) failed their
    ``transform`` with ``Task not serializable``. The layer row counts are
    exact, also for a partitioned layer (files one directory down)."""
    from skiliopay_datapipeline_customer_spark.ml import (
        churn_dataset,
        evaluate_classifier,
        train_classifier,
    )
    from skiliopay_datapipeline_customer_spark.ml.dataset import (
        FEATURE_COLS,
        LABEL_COL,
    )

    src = table(spark, sf_dir, "orders")
    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        feature_transforms=[
            lambda df: df.groupBy("o_custkey", "o_orderstatus").count()
        ],
        clean_kwargs={"key_cols": ["o_orderkey"]},
        quality_kwargs={"key_columns": ["o_orderkey"]},
        partition_by=["o_orderstatus"],
    )
    result = pipe.run(spark, src, source_name="orders.parquet")
    n = src.count()
    assert result["rows"] == {
        "bronze": n,
        "silver": n,
        "gold": src.select("o_custkey", "o_orderstatus").distinct().count(),
    }

    ds = churn_dataset(spark, sf_dir)
    for model_type, hp in (("rf", {"numTrees": 5}), ("lr", {"maxIter": 10})):
        model, transform = train_classifier(
            ds, FEATURE_COLS, LABEL_COL, model_type=model_type, **hp
        )
        assert model.hasSummary, model_type
        metrics = evaluate_classifier(transform(ds), LABEL_COL)
        assert metrics["accuracy"] > 0.5, (model_type, metrics)


def test_medallion_stage_logging_records_bronze_to_gold(spark, sf_dir, tmp_path):
    """Batch-stage logging twin of the reference's PipelineLogger
    (logging_config.py:88-132) + rotating-JSON handler (273-303): a
    bronze→gold run emits one processing_start/complete pair per layer
    with stage, rows in/out, wall seconds, and the quality score; the
    on-disk log is one parseable JSON object per line."""
    import json

    from skiliopay_datapipeline_customer_spark.pipelines.runlog import StageLogger

    def gold_features(df):
        return df.groupBy("o_custkey").agg(F.count("*").alias("frequency"))

    log_path = str(tmp_path / "pipeline.log")
    slog = StageLogger(name="test_medallion_run", log_path=log_path)
    pipe = MedallionPipeline(
        base_dir=str(tmp_path / "layers"),
        feature_transforms=[gold_features],
        clean_kwargs={"key_cols": ["o_orderkey"]},
        quality_kwargs={"key_columns": ["o_orderkey"]},
        stage_logger=slog,
    )
    src = table(spark, sf_dir, "orders")
    result = pipe.run(spark, src, source_name="orders.parquet")

    completes = {
        r["stage"]: r
        for r in slog.records
        if r.get("operation") == "processing_complete"
    }
    starts = [r["stage"] for r in slog.records if r.get("operation") == "processing_start"]
    assert starts == ["bronze", "silver", "gold"]
    assert set(completes) == {"bronze", "silver", "gold"}
    # rows in/out chain layer to layer and match the run result
    assert completes["bronze"]["output_rows"] == result["rows"]["bronze"]
    assert completes["silver"]["input_rows"] == result["rows"]["bronze"]
    assert completes["silver"]["output_rows"] == result["rows"]["silver"]
    assert completes["gold"]["input_rows"] == result["rows"]["silver"]
    assert completes["gold"]["output_rows"] == result["rows"]["gold"]
    # the gate's quality score rides the silver record; wall time recorded
    assert completes["silver"]["quality_score"] == round(
        result["quality"].overall, 4
    )
    for rec in completes.values():
        assert rec["duration_seconds"] >= 0
    # on-disk file: one JSON object per line, reference field layout
    with open(log_path) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    assert len(lines) == len(slog.records) == 6
    assert all(
        {"timestamp", "level", "logger", "message", "operation"} <= set(ln)
        for ln in lines
    )
    assert lines[0]["logger"] == "test_medallion_run"
    assert lines[-1]["stage"] == "gold"


def test_medallion_stage_logging_gate_failure_emits_error(spark, tmp_path):
    """The V10 gate failure path logs a structured error record (the
    reference's log_error shape) before raising."""
    from skiliopay_datapipeline_customer_spark.pipelines.runlog import StageLogger

    bad = spark.createDataFrame([(1, None), (1, None), (1, None)], "k long, v double")
    slog = StageLogger(name="test_medallion_gate")
    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        quality_kwargs={"key_columns": ["k"], "completeness_columns": ["v"]},
        stage_logger=slog,
    )
    with pytest.raises(ValueError, match="quality gate"):
        pipe.run(spark, bad)
    errors = [r for r in slog.records if r.get("operation") == "quality_gate"]
    assert len(errors) == 1 and "< 0.8" in errors[0]["error"]
    # no silver/gold records after the gate fired
    assert not any(r.get("stage") in ("silver", "gold") for r in slog.records)


def test_medallion_quality_gate_raises(spark, tmp_path):
    bad = spark.createDataFrame([(1, None), (1, None), (1, None)], "k long, v double")
    pipe = MedallionPipeline(
        base_dir=str(tmp_path),
        quality_kwargs={"key_columns": ["k"], "completeness_columns": ["v"]},
    )
    with pytest.raises(ValueError, match="quality gate"):
        pipe.run(spark, bad)


def test_checkpoint_cache(spark, sf_dir, tmp_path):
    cache = CheckpointCache(str(tmp_path / "cache"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    a = cache.get_or_compute(spark, "nations", "v1", compute)
    b = cache.get_or_compute(spark, "nations", "v1", compute)
    assert calls["n"] == 1 and a.count() == b.count()
    assert cache.stats["hits"] == 1 and cache.stats["sets"] == 1
    # different input version → recompute
    cache.get_or_compute(spark, "nations", "v2", compute)
    assert calls["n"] == 2
    # ttl expiry → recompute
    cache.put(compute(), "nations", "v3", ttl=0.0)
    assert cache.get(spark, "nations", "v3") is None
    assert cache.stats["invalidations"] == 1


def test_star_schema_build_and_fk(spark, sf_dir, tmp_path):
    from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
        build_star_schema,
    )

    result = build_star_schema(spark, sf_dir, str(tmp_path / "wh"))
    assert set(result["paths"]) == {
        "dim_date",
        "dim_user",
        "fact_orders",
        "fact_sessions",
    }
    # FK integrity: no orphan fact keys against either dim
    assert result["fk"]["fact_orders.user_key"] == 0
    assert result["fk"]["fact_orders.date_key"] == 0
    fo = spark.read.parquet(result["paths"]["fact_orders"])
    from skiliopay_datapipeline_customer_spark.io import table as t

    assert fo.count() == t(spark, sf_dir, "orders").count()
    # year partition column materialized for pruning
    assert "year" in fo.columns


def test_star_schema_fk_counts_an_orphan_user_key(spark, sf_dir, tmp_path):
    """One order whose customer is missing from the customer table is one
    orphan ``user_key``; its date is in range, so no orphan ``date_key``."""
    import os

    from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
        build_star_schema,
    )

    src = tmp_path / "sf"
    src.mkdir()
    for name in ("customer", "nation", "region", "events"):
        os.symlink(os.path.join(sf_dir, f"{name}.parquet"), src / f"{name}.parquet")
    orders = table(spark, sf_dir, "orders")
    orphan = orders.limit(1).withColumn(
        "o_orderkey", F.lit(10**12)
    ).withColumn("o_custkey", F.lit(10**12))
    orders.unionByName(orphan).write.parquet(str(src / "orders.parquet"))
    result = build_star_schema(spark, str(src), str(tmp_path / "wh"))
    assert result["fk"] == {"fact_orders.user_key": 1, "fact_orders.date_key": 0}


def test_incremental_silver_processes_only_new_files(spark, sf_dir, tmp_path):
    import datetime

    from pyspark.sql import types as T

    from skiliopay_datapipeline_customer_spark.pipelines.incremental import (
        incremental_silver,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    landing = str(tmp_path / "landing")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2026, 8, 13, 9, 0, 0)

    def clean(df):
        return df.withColumn("score", F.round(F.col("score"), 2))

    def run():
        return incremental_silver(
            spark, landing, silver, ckpt, schema, clean,
            key_cols=["user_id"], order_col="ts",
        )

    # day 1 lands
    spark.createDataFrame(
        [(1, t0, 1.111), (2, t0, 2.222)], schema
    ).write.mode("append").parquet(landing)
    snap = run()
    assert snap.count() == 2
    assert snap.filter(F.col("user_id") == 1).first()["score"] == 1.11  # cleaned

    # day 2 lands: update for user 1 + new user 3; user 2 untouched
    t1 = t0 + datetime.timedelta(days=1)
    spark.createDataFrame(
        [(1, t1, 9.999), (3, t1, 3.333)], schema
    ).write.mode("append").parquet(landing)
    snap = run()
    rows = {r["user_id"]: r for r in snap.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["score"] == 10.0 and rows[1]["ts"] == t1  # latest wins
    assert rows[2]["score"] == 2.22  # carried forward untouched

    # nothing new → no-op run, snapshot unchanged (no fresh version written)
    v_before = sorted(__import__("os").listdir(silver))
    snap = run()
    assert snap.count() == 3
    assert sorted(__import__("os").listdir(silver)) == v_before


def test_rest_stream_to_silver_to_gold_composes(spark, tmp_path):
    """End-to-end composition: paginated REST source consumed as a STREAM
    (checkpointed page offsets) → latest-wins silver snapshot via
    foreachBatch upsert → gold aggregate — after two incremental runs the
    gold result equals the batch aggregate over everything published."""
    import json

    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.sources.rest import RestDataSource
    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        latest_snapshot,
        upsert_snapshot,
    )

    pages = tmp_path / "pages"
    pages.mkdir()
    spark.dataSource.register(RestDataSource)
    silver = str(tmp_path / "silver")
    merge = upsert_snapshot(silver, key_cols=["uid"], order_col="seq")

    def publish(page, recs):
        (pages / f"page-{page}.json").write_text(json.dumps(recs))

    def run_ingest():
        stream = (
            spark.readStream.format("paged_rest")
            .option("schema_ddl", "uid long, seq long, amount double")
            .option("pages_dir", str(pages))
            .option("page_size", "4")
            .load()
        )
        q = (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .foreachBatch(merge)
            .start()
        )
        q.awaitTermination()

    # day 1: users 0-7 at seq 1
    publish(1, [{"uid": u, "seq": 1, "amount": 10.0 * u} for u in range(4)])
    publish(2, [{"uid": u, "seq": 1, "amount": 10.0 * u} for u in range(4, 8)])
    run_ingest()
    assert latest_snapshot(spark, silver).count() == 8

    # day 2: users 2,3 updated at seq 2 (latest wins), users 8-9 new
    publish(3, [
        {"uid": 2, "seq": 2, "amount": 99.0},
        {"uid": 3, "seq": 2, "amount": 77.0},
        {"uid": 8, "seq": 2, "amount": 80.0},
        {"uid": 9, "seq": 2, "amount": 90.0},
    ])
    run_ingest()

    gold = (
        latest_snapshot(spark, silver)
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.sum("amount"), 2).alias("total"),
        )
        .first()
    )
    # latest state: 0,10,99,77,40,50,60,70 (uids 0-7) + 80,90 (8-9)
    assert gold["n_users"] == 10
    assert abs(gold["total"] - (0 + 10 + 99 + 77 + 40 + 50 + 60 + 70 + 80 + 90)) < 1e-9


def test_write_audit_publish_gates_and_promotes(spark, sf_dir, tmp_path):
    """WAP: a passing audit publishes atomically; a failing audit leaves
    the version staged and readers keep seeing the last good table."""
    from skiliopay_datapipeline_customer_spark.pipelines.wap import (
        read_published,
        write_audit_publish,
    )

    target = str(tmp_path / "dim_customer")
    cust = table(spark, sf_dir, "customer")

    def no_null_keys(df):
        bad = df.filter(F.col("c_custkey").isNull()).count()
        return bad == 0, {"null_keys": bad}

    r1 = write_audit_publish(spark, cust, target, audit=no_null_keys)
    assert r1.published and r1.version == 1
    assert read_published(spark, target).count() == cust.count()

    # corrupt candidate: audit must block it, readers stay on v1
    broken = cust.withColumn(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, None).otherwise(F.col("c_custkey")),
    )
    r2 = write_audit_publish(spark, broken, target, audit=no_null_keys)
    assert not r2.published and r2.version == 2
    assert "_staging" in r2.path and r2.audit_detail["null_keys"] > 0
    assert read_published(spark, target).count() == cust.count()

    # fixed retry claims a FRESH version (staged failure is never reused)
    r3 = write_audit_publish(spark, cust.limit(100), target, audit=no_null_keys)
    assert r3.published and r3.version == 3
    assert read_published(spark, target).count() == 100


def test_vacuum_versions_retains_reader_horizon(spark, sf_dir, tmp_path):
    from skiliopay_datapipeline_customer_spark.pipelines.wap import (
        read_published,
        vacuum_versions,
        write_audit_publish,
    )

    target = str(tmp_path / "t")
    cust = table(spark, sf_dir, "customer")
    always = lambda df: (True, None)  # noqa: E731
    never = lambda df: (False, "blocked")  # noqa: E731
    for n in (100, 200, 300):
        write_audit_publish(spark, cust.limit(n), target, audit=always)
    write_audit_publish(spark, cust, target, audit=never)  # stays staged

    out = vacuum_versions(target, keep_last=2)
    assert out == {"removed_versions": [1], "removed_staging": [4]}
    # latest survives and still reads; v2 (inside horizon) survives too
    assert read_published(spark, target).count() == cust.limit(300).count()
    import os
    kept = {d for d in os.listdir(target) if d.startswith("v=")}
    assert kept == {"v=2", "v=3"}


def test_maintenance_quartet_end_to_end(spark, sf_dir, tmp_path):
    """The four maintenance ops composed over one versioned table: publish
    (WAP) several versions → VACUUM old ones → OPTIMIZE (compact) the live
    version in place → ANALYZE it for CBO stats — readers see identical
    content at every step."""
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.pipelines.wap import (
        read_published,
        vacuum_versions,
        write_audit_publish,
    )
    from skiliopay_datapipeline_customer_spark.sources.catalog import (
        compact_small_files,
    )

    target = str(tmp_path / "orders_table")
    orders = table(spark, sf_dir, "orders")
    audit = lambda df: (df.count() > 0, None)  # noqa: E731
    for cut in (100, 200, None):
        version_df = orders.limit(cut) if cut else orders
        # fragment the write so compaction has work to do
        r = write_audit_publish(spark, version_df.repartition(16), target, audit)
        assert r.published
    want = orders.count()
    assert read_published(spark, target).count() == want

    removed = vacuum_versions(target, keep_last=1)
    assert len(removed["removed_versions"]) == 2  # two superseded versions
    assert read_published(spark, target).count() == want

    import glob as _glob

    live = _glob.glob(target + "/v=*")[0]
    stats = compact_small_files(spark, live, target_file_bytes=10**12)
    assert stats["files_before"] == 16 and stats["files_after"] == 1
    after = read_published(spark, target)
    assert after.count() == want
    # integer checksum: double sums reorder under the rewrite (ulp noise)
    assert (
        after.agg(F.sum("o_orderkey")).first()[0]
        == orders.agg(F.sum("o_orderkey")).first()[0]
    )


def test_scd2_merge_tracks_history_and_point_in_time(spark):
    """Three batches of dimension updates: changed values close the open row
    and insert a new version; unchanged/unseen keys pass through; snapshots
    reconstruct the dimension as of any instant."""
    from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
        scd2_merge,
        snapshot_at,
    )

    def batch(rows):
        return spark.createDataFrame(rows, ["user_id", "segment"])

    h = scd2_merge(None, batch([(1, "basic"), (2, "basic")]), "user_id",
                   ["segment"], "2024-01-01 00:00:00")
    h = scd2_merge(h, batch([(1, "gold"), (3, "basic")]), "user_id",
                   ["segment"], "2024-02-01 00:00:00")
    h = scd2_merge(h, batch([(1, "gold"), (2, "silver")]), "user_id",
                   ["segment"], "2024-03-01 00:00:00").cache()

    rows = {(r["user_id"], str(r["valid_from"])): r for r in h.collect()}
    assert len(rows) == 5  # u1: basic+gold, u2: basic+silver, u3: basic
    u1_old = rows[(1, "2024-01-01 00:00:00")]
    assert not u1_old["is_current"] and str(u1_old["valid_to"]).startswith("2024-02-01")
    u1_new = rows[(1, "2024-02-01 00:00:00")]
    assert u1_new["is_current"] and u1_new["segment"] == "gold"
    # identical re-delivery (u1 gold in batch 3) did NOT spawn a version
    assert h.filter((F.col("user_id") == 1) & F.col("is_current")).count() == 1
    # current view: one open row per key
    cur = {r["user_id"]: r["segment"] for r in h.filter("is_current").collect()}
    assert cur == {1: "gold", 2: "silver", 3: "basic"}
    # point-in-time: mid-February sees u1=gold, u2=basic, u3=basic
    snap = {
        r["user_id"]: r["segment"]
        for r in snapshot_at(h, "2024-02-15 00:00:00").collect()
    }
    assert snap == {1: "gold", 2: "basic", 3: "basic"}
    # before any data: empty
    assert snapshot_at(h, "2023-12-31 00:00:00").count() == 0
    h.unpersist()


def test_incremental_agg_refresh_equals_full_recompute_and_replay_safe(
    spark, sf_dir, tmp_path
):
    """The incrementally-maintained per-key aggregate equals a full batch
    recompute after multiple arrivals, and re-delivering a batch id does not
    double-count (replay idempotence)."""
    import os

    from pyspark.sql import types as T

    from skiliopay_datapipeline_customer_spark.pipelines.incremental import (
        incremental_agg_refresh,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    landing = str(tmp_path / "landing")
    view = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(df, name):
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage_{name}")
        )
        import glob
        import shutil

        src = glob.glob(str(tmp_path / f"stage_{name}" / "*.parquet"))[0]
        shutil.copy(src, os.path.join(landing, f"{name}.parquet"))

    land(ev.filter(F.col("event_id") % 3 == 0), "a")
    snap1 = incremental_agg_refresh(
        spark, landing, view, ckpt, schema, ["user_id"], ["value"],
        max_files_per_trigger=1,
    )
    assert snap1 is not None
    land(ev.filter(F.col("event_id") % 3 == 1), "b")
    land(ev.filter(F.col("event_id") % 3 == 2), "c")
    snap = incremental_agg_refresh(
        spark, landing, view, ckpt, schema, ["user_id"], ["value"],
        max_files_per_trigger=1,
    )
    got = {
        r["user_id"]: (r["n"], round(r["sum_value"], 6))
        for r in snap.collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["sum_value"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want
    from skiliopay_datapipeline_customer_spark.streaming.sinks import _versions

    n_versions = len(_versions(view))
    # no new files -> no new batch -> view byte-stable
    snap2 = incremental_agg_refresh(
        spark, landing, view, ckpt, schema, ["user_id"], ["value"]
    )
    assert {
        r["user_id"]: (r["n"], round(r["sum_value"], 6))
        for r in snap2.collect()
    } == want
    assert len(_versions(view)) == n_versions
    # CRASH REPLAY: re-deliver the LAST batch's partials under the same
    # batch id — the view version is the batch id and the merge base is a
    # strictly-earlier version, so the replay overwrites its own output
    # instead of double-counting
    from skiliopay_datapipeline_customer_spark.pipelines.incremental import (
        merge_additive_partials,
    )

    last_v = _versions(view)[-1]
    replay = (
        spark.read.parquet(os.path.join(landing, "c.parquet"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    merge_additive_partials(
        spark, view, replay, last_v, ["user_id"], ["n", "sum_value"]
    )
    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        latest_snapshot,
    )

    assert {
        r["user_id"]: (r["n"], round(r["sum_value"], 6))
        for r in latest_snapshot(spark, view).collect()
    } == want


def test_scd2_point_in_time_join_is_leak_free(spark):
    """Feature-store correctness: joining facts to the SCD2 dimension AS OF
    each fact's own date yields the value that was CURRENT then — never a
    later version (the label-leak a latest-only join commits)."""
    from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
        scd2_merge,
    )

    h = scd2_merge(None, spark.createDataFrame([(1, "basic")], ["uid", "seg"]),
                   "uid", ["seg"], "2024-01-01 00:00:00")
    h = scd2_merge(h, spark.createDataFrame([(1, "gold")], ["uid", "seg"]),
                   "uid", ["seg"], "2024-03-01 00:00:00")
    facts = spark.createDataFrame(
        [(1, "2024-02-10 00:00:00"), (1, "2024-03-10 00:00:00")],
        ["uid", "fact_ts"],
    ).withColumn("fact_ts", F.col("fact_ts").cast("timestamp"))
    joined = facts.join(
        h,
        (facts.uid == h.uid)
        & (h.valid_from <= facts.fact_ts)
        & (facts.fact_ts < h.valid_to),
    ).select(facts.uid, "fact_ts", "seg")
    rows = {str(r["fact_ts"])[:10]: r["seg"] for r in joined.collect()}
    # the February fact sees "basic" even though "gold" is current NOW
    assert rows == {"2024-02-10": "basic", "2024-03-10": "gold"}
    # a latest-only join would have leaked "gold" into the February fact
    latest = facts.join(h.filter("is_current"), facts.uid == h.uid).select(
        "fact_ts", "seg"
    )
    assert {r["seg"] for r in latest.collect()} == {"gold"}
