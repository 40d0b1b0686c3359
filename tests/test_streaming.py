"""Structured Streaming tests (SURVEY §2.11): each streaming result must
equal its batch twin on the same input — the transforms are shared code, so
this checks the streaming machinery (source, watermark, state, sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.streaming import (
    dedup_events,
    events_stream,
    run_available_now,
    session_stats,
    tumbling_counts,
    upsert_snapshot,
)
from skiliopay_datapipeline_customer_spark.streaming.sinks import latest_snapshot


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events written as 3 files — a stream of 3 arrivals."""
    path = str(tmp_path_factory.mktemp("events_in"))
    table(spark, sf_dir, "events").repartition(3).write.mode("overwrite").parquet(path)
    return path


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_tumbling_stream_matches_batch(spark, events_dir, tmp_path):
    stream = tumbling_counts(events_stream(spark, events_dir))
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="tumbling_t",
    )
    got = _rows(spark.sql("SELECT * FROM tumbling_t"), "bucket_start")
    want = _rows(tumbling_counts(spark.read.parquet(events_dir)), "bucket_start")
    assert got == want and len(got) > 0


def test_session_stream_matches_batch(spark, events_dir, tmp_path):
    stream = session_stats(events_stream(spark, events_dir))
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="sessions_t",
    )
    got = _rows(spark.sql("SELECT * FROM sessions_t"), "user_id", "session_start")
    want = _rows(
        session_stats(spark.read.parquet(events_dir)), "user_id", "session_start"
    )
    assert got == want and len(got) > 0


def test_stateful_dedup(spark, events_dir, tmp_path):
    # input with every event duplicated across two arrivals
    dup_dir = str(tmp_path / "dup_in")
    base = spark.read.parquet(events_dir)
    base.write.mode("overwrite").parquet(dup_dir)
    base.write.mode("append").parquet(dup_dir)

    out = str(tmp_path / "out")
    run_available_now(
        dedup_events(events_stream(spark, dup_dir), keys=["event_id"]),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        out_dir=out,
    )
    n_unique = base.select("event_id").distinct().count()
    assert spark.read.parquet(out).count() == n_unique


def test_foreach_batch_upsert_latest_wins(spark, events_dir, tmp_path):
    target = str(tmp_path / "snapshot")
    # one micro-batch per input file → several incremental merges
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        foreach_batch=upsert_snapshot(target, key_cols=["user_id"], order_col="ts"),
    )
    snap = latest_snapshot(spark, target)
    batch = spark.read.parquet(events_dir)
    # one row per user, carrying that user's max ts
    want = batch.groupBy("user_id").agg(F.max("ts").alias("ts"))
    assert _rows(snap.select("user_id", "ts"), "user_id") == _rows(want, "user_id")
    assert snap.count() == batch.select("user_id").distinct().count()


def test_watermark_state_expiry_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps state only `within` past the
    watermark: a duplicate arriving within the horizon is dropped; after the
    state expires, the same key passes again (bounded-memory semantics —
    exact-once dedup needs keys to recur inside the horizon)."""
    import datetime

    from skiliopay_datapipeline_customer_spark.streaming.sources import EVENTS_SCHEMA

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_file(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def run():
        stream = dedup_events(
            events_stream(spark, in_dir), keys=["event_id"], within="1 hour"
        )
        run_available_now(stream, checkpoint_dir=ckpt, output_mode="append", out_dir=out)

    # batch 1: event 1 twice (same micro-batch dedup) + event 2
    write_file(
        [
            (1, t0, 10, "click", 1.0, "{}"),
            (1, t0, 10, "click", 1.0, "{}"),
            (2, t0 + datetime.timedelta(minutes=5), 11, "view", 2.0, "{}"),
        ]
    )
    run()
    assert spark.read.parquet(out).count() == 2

    # batch 2: event 1 again within the horizon → dropped; event 3 is new.
    # watermark after batch 1 = max_ts - 1h = 11:05; event 1 @12:00 is
    # inside state retention → still remembered.
    write_file(
        [
            (1, t0 + datetime.timedelta(minutes=10), 10, "click", 1.0, "{}"),
            (3, t0 + datetime.timedelta(minutes=20), 12, "buy", 3.0, "{}"),
        ]
    )
    run()
    assert spark.read.parquet(out).count() == 3  # only event 3 added

    # batch 3: far-future event advances the watermark hours past event 1's
    # state; a later re-arrival of key 1 then passes through again.
    write_file([(9, t0 + datetime.timedelta(hours=6), 13, "tick", 0.0, "{}")])
    run()
    write_file(
        [(1, t0 + datetime.timedelta(hours=6, minutes=1), 10, "click", 1.0, "{}")]
    )
    run()
    ids = [r["event_id"] for r in spark.read.parquet(out).collect()]
    assert sorted(ids) == [1, 1, 2, 3, 9]  # key 1 re-admitted post-expiry


def test_sliding_stream_matches_batch(spark, events_dir, tmp_path):
    from skiliopay_datapipeline_customer_spark.streaming import sliding_counts

    stream = sliding_counts(events_stream(spark, events_dir))
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="sliding_t",
    )
    got = _rows(spark.sql("SELECT * FROM sliding_t"), "bucket_start")
    want = _rows(sliding_counts(spark.read.parquet(events_dir)), "bucket_start")
    assert got == want and len(got) > 0


def test_session_append_mode_emits_only_finalized(spark, tmp_path):
    """Append-mode session windows emit a session only after the watermark
    passes its close — sessions still open at the head of the stream are
    withheld (correct late-data behavior, not data loss)."""
    import datetime

    from skiliopay_datapipeline_customer_spark.streaming.sources import EVENTS_SCHEMA

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 10, "click", 1.0, "{}"),
        (2, t0 + datetime.timedelta(minutes=5), 10, "click", 1.0, "{}"),
        # >30min gap → second session for user 10; far-future event moves
        # the watermark beyond the first session's close
        (3, t0 + datetime.timedelta(hours=8), 10, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(in_dir)
    stream = session_stats(
        events_stream(spark, in_dir), gap="30 minutes", watermark="1 hour"
    )
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        out_dir=out,
    )
    got = spark.read.parquet(out).collect()
    # only the FIRST session (closed well before watermark) is emitted;
    # the 8h-later session is still open at end of input
    assert len(got) == 1
    assert got[0]["n_events"] == 2 and got[0]["session_start"] == t0


def test_partial_snapshot_version_is_invisible(spark, tmp_path):
    """Crash-safety: a v=N directory without _SUCCESS (a write that died
    mid-flight) must be skipped by discovery and reclaimed by the next merge."""
    import os

    target = str(tmp_path / "snap")
    merge = upsert_snapshot(target, key_cols=["k"], order_col="seq")
    merge(spark.createDataFrame([(1, 10, "a")], "k long, seq long, val string"), 0)
    assert latest_snapshot(spark, target).count() == 1

    # simulate a crashed v=1 write: directory + data fragment, no _SUCCESS
    partial = os.path.join(target, "v=1")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00truncated")
    snap = latest_snapshot(spark, target)
    assert [tuple(r) for r in snap.collect()] == [(1, 10, "a")]  # still v=0

    # the next merge reclaims version 1 and the result is the clean union
    merge(spark.createDataFrame([(2, 5, "b")], "k long, seq long, val string"), 1)
    rows = sorted(tuple(r) for r in latest_snapshot(spark, target).collect())
    assert rows == [(1, 10, "a"), (2, 5, "b")]
    assert os.path.exists(os.path.join(target, "v=1", "_SUCCESS"))


def test_upsert_equal_order_ties_are_deterministic(spark, tmp_path):
    """Two same-key rows with the same order_col in one batch: the winner is
    chosen by the value tiebreak (all remaining columns, name order, desc),
    not partition placement — repeated runs give identical snapshots."""
    batch = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "z"), (1, 10, "m")], "k long, seq long, val string"
    )
    results = set()
    for run in range(3):
        target = str(tmp_path / f"snap{run}")
        upsert_snapshot(target, key_cols=["k"], order_col="seq")(
            batch.repartition(3), 0
        )
        results.add(tuple(latest_snapshot(spark, target).collect()[0]))
    assert results == {(1, 10, "z")}


def test_apply_in_pandas_with_state_accumulates_across_batches(spark, sf_dir, tmp_path):
    """Custom stateful operator: per-user lifetime totals must carry state
    across separate stream runs (checkpointed state store), ending equal to
    the batch groupBy over everything seen."""
    import os
    import shutil

    from skiliopay_datapipeline_customer_spark.streaming import (
        events_stream,
        running_user_totals,
    )

    events = table(spark, sf_dir, "events").limit(3000).cache()
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    latest: dict[int, tuple] = {}

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            latest[r["user_id"]] = (r["n_events"], r["total_value"])

    for part in (half_a, half_b):
        staged = str(tmp_path / "stage")
        part.write.mode("overwrite").parquet(staged)
        os.makedirs(landing, exist_ok=True)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(staged, f), os.path.join(landing, f))
        run_available_now(
            running_user_totals(events_stream(spark, landing)),
            checkpoint_dir=ckpt,
            output_mode="update",
            foreach_batch=capture,
        )

    expected = {
        r["user_id"]: (r["n"], round(r["t"], 4))
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("t"),
        )
        .collect()
    }
    assert latest == expected


def test_stream_stream_attribution_join_matches_batch(spark, events_dir, tmp_path):
    """Watermarked stream-stream inner join (click -> purchase attribution):
    the streaming result over file-fed micro-batches equals the batch twin
    on the same input — both sides buffered and joined across arrivals."""
    from skiliopay_datapipeline_customer_spark.streaming import (
        click_purchase_attribution,
    )

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purchases = split(events_stream(spark, events_dir))
    out = str(tmp_path / "out")
    run_available_now(
        click_purchase_attribution(s_clicks, s_purchases),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        out_dir=out,
    )
    got = _rows(spark.read.parquet(out), "purchase_id", "click_id")

    b_clicks, b_purchases = split(spark.read.parquet(events_dir))
    want = _rows(
        click_purchase_attribution(b_clicks, b_purchases),
        "purchase_id",
        "click_id",
    )
    assert got == want and len(got) > 0


def test_dedup_ingest_sink_across_streaming_runs(spark, sf_dir, tmp_path):
    """Streaming dedup-at-ingestion: two availableNow runs over a growing
    document directory. The signature store persists across runs, so the
    second batch dedups against the first batch's history; survivors match
    the batch-API reference applying the same first-seen-wins policy."""
    from skiliopay_datapipeline_customer_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_buckets,
    )
    from skiliopay_datapipeline_customer_spark.streaming.sinks import dedup_ingest

    docs = table(spark, sf_dir, "documents")
    batch_a = docs.filter(F.col("doc_id") % 2 == 0)
    batch_b = docs.filter(F.col("doc_id") % 2 == 1)

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sink = dedup_ingest(store, out)
    schema = docs.schema

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        run_available_now(stream, checkpoint_dir=ckpt, foreach_batch=sink)

    batch_a.coalesce(1).write.mode("append").parquet(src)
    run()
    batch_b.coalesce(1).write.mode("append").parquet(src)
    run()

    got = sorted(
        r.doc_id for r in spark.read.parquet(out + "/batch=*").collect()
    )

    # reference: same policy via the batch API
    def losers(pairs, batch_ids):
        ids = set(batch_ids)
        out_ = set()
        for r in pairs.collect():
            for x, o in ((r.id_a, r.id_b), (r.id_b, r.id_a)):
                if x in ids and (o not in ids or o < x):
                    out_.add(x)
        return out_

    empty = spark.createDataFrame([], "doc_id long, band int, bucket long")
    a_ids = [r.doc_id for r in batch_a.select("doc_id").collect()]
    b_ids = [r.doc_id for r in batch_b.select("doc_id").collect()]
    pa, _ = incremental_lsh_candidates(batch_a, empty)
    keep_a = set(a_ids) - losers(pa, a_ids)
    pb, _ = incremental_lsh_candidates(batch_b, minhash_band_buckets(batch_a))
    keep_b = set(b_ids) - losers(pb, b_ids)
    want = sorted(keep_a | keep_b)

    assert got == want and 0 < len(got) < len(a_ids) + len(b_ids)


def test_dedup_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A replayed micro-batch (crash after the store write, before the
    checkpoint commit) must rewrite identical outputs: the store read
    excludes the batch's own directory, so the batch never dedups against
    its own signatures."""
    from skiliopay_datapipeline_customer_spark.streaming.sinks import dedup_ingest

    docs = table(spark, sf_dir, "documents")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    sink = dedup_ingest(store, out)

    sink(docs, 0)
    first = sorted(r.doc_id for r in spark.read.parquet(out + "/batch=0").collect())
    sink(docs, 0)  # replay: store already holds batch=0
    second = sorted(r.doc_id for r in spark.read.parquet(out + "/batch=0").collect())
    assert first == second and 0 < len(first) < docs.count()


def test_dedup_ingest_signs_each_batch_once(spark, sf_dir, tmp_path, monkeypatch):
    """Both writes of a batch (survivors, store additions) read its band
    buckets; the signature pipeline must run once per batch, not once per
    reader. A counting UDF on the buckets' output tallies every row the
    pipeline produces."""
    from skiliopay_datapipeline_customer_spark.operators import dedup
    from skiliopay_datapipeline_customer_spark.streaming.sinks import dedup_ingest

    docs = table(spark, sf_dir, "documents")
    batch_a = docs.filter(F.col("doc_id") % 2 == 0)
    batch_b = docs.filter(F.col("doc_id") % 2 == 1)
    rows_a = dedup.minhash_band_buckets(batch_a).count()
    rows_b = dedup.minhash_band_buckets(batch_b).count()

    signed = spark.sparkContext.accumulator(0)
    real = dedup.minhash_band_buckets

    def counted(*args, **kwargs):
        def tick(i):
            signed.add(1)
            return i

        out = real(*args, **kwargs)
        return out.withColumn("doc_id", F.udf(tick, "long")("doc_id"))

    monkeypatch.setattr(dedup, "minhash_band_buckets", counted)
    sink = dedup_ingest(str(tmp_path / "store"), str(tmp_path / "out"))
    sink(batch_a, 0)
    assert signed.value == rows_a
    sink(batch_b, 1)  # dedups against batch 0's store
    assert signed.value == rows_a + rows_b


def test_transform_with_state_matches_batch_totals(spark, sf_dir, tmp_path):
    """Spark 4 transformWithStateInPandas tier: same lifetime-totals
    contract as the applyInPandasWithState operator — state carries across
    separate stream runs and ends equal to the batch groupBy.

    The TWS state-server protocol needs protobuf, which this container
    lacks — skip (not fail) there; the operator itself is plain Spark 4
    API usage and runs wherever pyspark's [connect] extras are present."""
    import pytest

    pytest.importorskip("google.protobuf")
    import os
    import shutil

    from skiliopay_datapipeline_customer_spark.streaming import (
        events_stream,
        running_user_totals_tws,
    )

    events = table(spark, sf_dir, "events").limit(2000).cache()
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    latest: dict[int, tuple] = {}

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            latest[r["user_id"]] = (r["n_events"], r["total_value"])

    for part in (half_a, half_b):
        staged = str(tmp_path / "stage")
        part.write.mode("overwrite").parquet(staged)
        os.makedirs(landing, exist_ok=True)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(staged, f), os.path.join(landing, f))
        run_available_now(
            running_user_totals_tws(events_stream(spark, landing)),
            checkpoint_dir=ckpt,
            output_mode="update",
            foreach_batch=capture,
        )

    expected = {
        r["user_id"]: (r["n"], round(r["t"], 4))
        for r in events.groupBy("user_id")
        # NULL-as-0.0, the operator's contract (pdf["value"].fillna(0.0)) —
        # a bare sum("value") would yield None for an all-NULL user and
        # encode a different NULL contract than the operator under test
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("t"),
        )
        .collect()
    }
    assert latest == expected


def test_jdbc_exactly_once_sink_replay_idempotent(spark, events_dir, tmp_path):
    """Each epoch DELETEs its own slice before appending: a replayed batch
    (at-least-once foreachBatch delivery) converges to one copy per epoch."""
    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        jdbc_exactly_once_sink,
    )
    from skiliopay_datapipeline_customer_spark.sources.jdbc import read_jdbc

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    sink = jdbc_exactly_once_sink(url, "events_load", properties=props)

    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        foreach_batch=sink,
    )
    batch = spark.read.parquet(events_dir)
    loaded = read_jdbc(spark, url, table="events_load", properties=props)
    assert loaded.count() == batch.count()
    n_epochs = loaded.select("batch_id").distinct().count()
    assert n_epochs >= 2  # max_files_per_trigger=1 → several epochs

    # crash-replay: re-deliver epoch 0's slice (same batch_id, same rows).
    # Materialize FIRST — a lazy JDBC read of the same table would be
    # re-evaluated after the sink's own delete and deliver zero rows.
    lazy0 = loaded.filter(F.col("batch_id") == 0).drop("batch_id")
    epoch0 = spark.createDataFrame(lazy0.collect(), lazy0.schema)
    sink(epoch0, 0)
    again = read_jdbc(spark, url, table="events_load", properties=props)
    assert again.count() == batch.count()  # no double-append
    assert (
        again.filter(F.col("batch_id") == 0).count() == epoch0.count()
    )


def test_streaming_wap_quarantines_failing_microbatch(spark, events_dir, tmp_path):
    """foreachBatch composed with write-audit-publish: each micro-batch
    stages as the next table version and publishes only if the audit
    passes. A batch that fails the audit stays under _staging/ — readers
    never see it — while later passing batches still publish."""
    from skiliopay_datapipeline_customer_spark.pipelines.wap import (
        read_published,
        write_audit_publish,
    )
    from skiliopay_datapipeline_customer_spark.streaming.sources import (
        events_stream,
    )

    target = str(tmp_path / "wap_table")
    outcomes = []

    def audit(staged):
        # reject any batch containing 'error' events (the quality gate)
        bad = staged.filter(F.col("event_type") == "error").count()
        return bad == 0, {"bad": bad}

    def sink(batch_df, batch_id):
        r = write_audit_publish(spark, batch_df, target, audit)
        outcomes.append((batch_id, r.published))

    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    run_available_now(
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
        foreach_batch=sink,
    )
    assert len(outcomes) >= 2
    # the fixture has error events in every slice → nothing published...
    published = [b for b, ok in outcomes if ok]
    if not published:
        assert read_published(spark, target) is None
    # ...so re-run with clean batches only: every batch publishes
    clean_dir = str(tmp_path / "clean_in")
    base = spark.read.parquet(events_dir).filter(F.col("event_type") != "error")
    base.write.parquet(clean_dir)
    outcomes.clear()
    run_available_now(
        events_stream(spark, clean_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        output_mode="append",
        foreach_batch=sink,
    )
    assert outcomes and all(ok for _, ok in outcomes)
    snap = read_published(spark, target)
    assert snap is not None and snap.filter(F.col("event_type") == "error").count() == 0
    # the rejected batches are still quarantined on disk for review
    import os

    staging = os.path.join(target, "_staging")
    assert os.path.isdir(staging) and len(os.listdir(staging)) >= 1


def test_time_travel_version_and_timestamp_reads(spark, tmp_path):
    """VERSION AS OF reads an exact committed version; TIMESTAMP AS OF picks
    the newest version committed at-or-before the instant; vacuumed and
    never-committed versions raise with the readable list."""
    import os
    import time

    import pytest

    from skiliopay_datapipeline_customer_spark.pipelines.wap import vacuum_versions
    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        read_version,
        snapshot_as_of,
        version_history,
    )

    target = str(tmp_path / "snap")
    instants = []
    for v, n in enumerate([2, 4, 6]):
        spark.range(n).write.parquet(os.path.join(target, f"v={v}"))
        time.sleep(0.05)
        instants.append(time.time())  # just after v committed

    assert [h["version"] for h in version_history(target)] == [0, 1, 2]
    assert all(h["n_files"] >= 1 and h["bytes"] > 0 for h in version_history(target))
    assert read_version(spark, target, 1).count() == 4
    # as-of each instant sees exactly the versions committed by then
    assert snapshot_as_of(spark, target, instants[0]).count() == 2
    assert snapshot_as_of(spark, target, instants[1]).count() == 4
    assert snapshot_as_of(spark, target, instants[2]).count() == 6
    assert snapshot_as_of(spark, target, instants[0] - 10.0) is None
    # an uncommitted (markerless) version is invisible to time travel
    os.makedirs(os.path.join(target, "v=3"))
    with pytest.raises(ValueError, match="committed versions"):
        read_version(spark, target, 3)
    # vacuum reclaims v0 -> reading past the horizon raises like Delta
    vacuum_versions(target, keep_last=2)
    with pytest.raises(ValueError, match=r"\[1, 2\]"):
        read_version(spark, target, 0)
    assert read_version(spark, target, 2).count() == 6


def test_stream_static_dim_join_matches_batch(spark, events_dir, sf_dir, tmp_path):
    """Stream-static enrichment: the streaming fact joins a STATIC dimension
    (no watermark needed — the static side is re-read per micro-batch, the
    standard dim-enrichment shape). Result equals the batch twin."""

    def enrich(ev):
        dim = (
            table(spark, sf_dir, "customer")
            .select(
                F.col("c_custkey").alias("user_id"),
                "c_mktsegment",
            )
        )
        return (
            ev.join(F.broadcast(dim), "user_id", "left")
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
        )

    run_available_now(
        enrich(events_stream(spark, events_dir)),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="enriched_t",
    )
    got = _rows(spark.sql("SELECT * FROM enriched_t"), "c_mktsegment")
    want = _rows(enrich(spark.read.parquet(events_dir)), "c_mktsegment")
    assert got == want and len(got) > 0


def test_progress_recorder_captures_batch_metrics(spark, events_dir, tmp_path):
    """The listener records per-batch input rows and lifecycle events for a
    named streaming run."""
    import time

    from skiliopay_datapipeline_customer_spark.streaming.sinks import (
        ProgressRecorder,
    )

    rec = ProgressRecorder(str(tmp_path / "metrics.jsonl"))
    spark.streams.addListener(rec.listener)
    try:
        run_available_now(
            tumbling_counts(events_stream(spark, events_dir)),
            checkpoint_dir=str(tmp_path / "ckpt"),
            output_mode="complete",
            query_name="metered_t",
        )
        # listener events deliver asynchronously after the query stops
        deadline = time.time() + 20
        while time.time() < deadline:
            recs = rec.records()
            if any(r["event"] == "progress" and r.get("name") == "metered_t"
                   and r["num_input_rows"] > 0 for r in recs) and any(
                r["event"] == "terminated" for r in recs
            ):
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec.listener)
    recs = rec.records()
    progress = [r for r in recs if r["event"] == "progress" and r.get("name") == "metered_t"]
    assert any(r["event"] == "started" for r in recs)
    assert sum(r["num_input_rows"] for r in progress) == spark.read.parquet(
        events_dir
    ).count()
    assert any(r["event"] == "terminated" for r in recs)


def test_upsert_reads_its_own_version_without_schema_inference(
    spark, tmp_path, group_jobs
):
    """The merge reads back the version it committed last with that
    version's schema (no footer job); a fresh closure over the same target,
    as after a restart, infers once and merges the same way."""

    def footer_jobs(fn):
        return group_jobs(fn)[2]

    schema = "k long, seq long, val string"
    target = str(tmp_path / "snap")
    merge = upsert_snapshot(target, key_cols=["k"], order_col="seq")
    merge(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], schema), 0)
    assert not footer_jobs(
        lambda: merge(spark.createDataFrame([(1, 2, "c")], schema), 1)
    )
    restarted = upsert_snapshot(target, key_cols=["k"], order_col="seq")
    assert len(footer_jobs(
        lambda: restarted(spark.createDataFrame([(2, 3, "d")], schema), 2)
    )) == 1
    rows = sorted(tuple(r) for r in latest_snapshot(spark, target).collect())
    assert rows == [(1, 2, "c"), (2, 3, "d")]
    # the first closure's last version is no longer the newest: it infers
    assert len(footer_jobs(
        lambda: merge(spark.createDataFrame([(3, 1, "e")], schema), 3)
    )) == 1
    rows = sorted(tuple(r) for r in latest_snapshot(spark, target).collect())
    assert rows == [(1, 2, "c"), (2, 3, "d"), (3, 1, "e")]
