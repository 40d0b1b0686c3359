"""Streaming sinks: availableNow runner + foreachBatch snapshot upsert
(SURVEY §2.11; S15 latest-snapshot semantics, scripts/run_processing.py:19-22).

The upsert keeps a versioned snapshot directory:

    target/v=0/...parquet   (first batch)
    target/v=1/...parquet   (merge of v=0 + batch 1)

``latest_snapshot`` reads the highest COMMITTED version — the engine's
replacement for the reference's glob-date-stamped-files-take-max discovery.
Commit protocol: a version is visible only once its ``_SUCCESS`` marker
exists (written last by Spark's file committer), so a crash mid-write leaves
an invisible partial directory, never a truncated snapshot. Versioned dirs
keep history for audit; on a cluster with Delta/Iceberg this entire sink is
``MERGE INTO`` and the version chain is the table log.

Scale notes: the merge is a keyed window dedup — shuffle on the key, no
driver collect. Each version rewrite is O(snapshot); at 100 TB use the
MERGE-on-Delta path where only touched files rewrite.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    foreach_batch=None,
    out_dir: str | None = None,
    query_name: str | None = None,
) -> None:
    """Process everything currently available, then stop (the daily-batch
    execution shape on streaming semantics)."""
    writer = (
        df.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if not query_name and foreach_batch is None and out_dir is None:
        # the memory sink REQUIRES a query name (it is the in-memory table's
        # name); synthesize a stable one from the checkpoint rather than
        # crashing on the bare df+checkpoint call shape
        query_name = f"mem_{re.sub(r'[^A-Za-z0-9_]', '_', os.path.basename(checkpoint_dir.rstrip('/')))}"
    if query_name:
        writer = writer.queryName(query_name)
    if foreach_batch is not None:
        q = writer.foreachBatch(foreach_batch).start()
    elif out_dir is not None:
        q = writer.format("parquet").option("path", out_dir).start()
    else:
        q = writer.format("memory").start()
    q.awaitTermination()


def _versions(target_dir: str) -> list[int]:
    """Committed versions only: a v=N directory counts once its _SUCCESS
    marker exists (Spark's commit protocol writes it last). A crash mid-write
    leaves a partial v=N with no marker — discovery skips it, and the next
    merge re-claims that version number with mode("overwrite"), so replayed
    micro-batches never merge from truncated data."""
    if not os.path.isdir(target_dir):
        return []
    return sorted(
        int(m.group(1))
        for d in os.listdir(target_dir)
        if (m := re.fullmatch(r"v=(\d+)", d))
        and os.path.exists(os.path.join(target_dir, d, "_SUCCESS"))
    )


def latest_snapshot(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """S15: read the newest snapshot version (None before the first write)."""
    vs = _versions(target_dir)
    if not vs:
        return None
    return spark.read.parquet(os.path.join(target_dir, f"v={vs[-1]}"))


def read_version(spark: SparkSession, target_dir: str, version: int) -> DataFrame:
    """Time travel, ``VERSION AS OF`` form: read one exact committed
    version of the snapshot layout. Raises (listing what IS readable) for a
    version that never committed or that ``vacuum_versions`` already
    reclaimed — the same contract as Delta's versionAsOf past the retention
    horizon."""
    vs = _versions(target_dir)
    if version not in vs:
        raise ValueError(
            f"version {version} not available under {target_dir}; "
            f"committed versions: {vs}"
        )
    return spark.read.parquet(os.path.join(target_dir, f"v={version}"))


def version_history(target_dir: str) -> list[dict]:
    """DESCRIBE HISTORY for the snapshot layout: one record per committed
    version — commit time (the _SUCCESS marker's mtime: written last, so it
    IS the commit instant), file count and byte size. Driver-side directory
    metadata only; never opens data files."""
    out = []
    for v in _versions(target_dir):
        vdir = os.path.join(target_dir, f"v={v}")
        files = [
            f
            for f in os.listdir(vdir)
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        out.append(
            {
                "version": v,
                "committed_at": os.path.getmtime(os.path.join(vdir, "_SUCCESS")),
                "n_files": len(files),
                "bytes": sum(
                    os.path.getsize(os.path.join(vdir, f)) for f in files
                ),
            }
        )
    return out


def snapshot_as_of(
    spark: SparkSession, target_dir: str, timestamp: float
) -> DataFrame | None:
    """Time travel, ``TIMESTAMP AS OF`` form: the newest version whose
    commit instant is <= ``timestamp`` (epoch seconds) — None when nothing
    had committed yet. Commit instants come from :func:`version_history`."""
    eligible = [
        h["version"]
        for h in version_history(target_dir)
        if h["committed_at"] <= timestamp
    ]
    if not eligible:
        return None
    return read_version(spark, target_dir, max(eligible))


def upsert_snapshot(
    target_dir: str,
    key_cols: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None = None,
):
    """Build a foreachBatch(batch_df, batch_id) that merges each micro-batch
    into the snapshot: per key keep the row with the greatest ``order_col``
    (latest-wins upsert). Exactly-once: foreachBatch can replay a batch on
    recovery; latest-wins merge is idempotent so replays are safe, and
    ``_versions``' _SUCCESS gate keeps a crashed partial write invisible.

    The window order must be TOTAL per key or the winner under equal
    ``order_col`` values (same-timestamp updates in one batch) is partition-
    placement-dependent. ``tiebreak_cols`` defaults to every remaining
    column in name order — deterministic snapshots with zero configuration;
    pass an explicit list (e.g. an ingest sequence column) when one exists.

    The closure keeps the schema of the version it last committed and
    reads that version back with it, so a micro-batch starts no
    schema-inference job. When the newest committed version is not the
    one it wrote (a restart, a replay, another writer), it infers.
    """

    # (version dir, its _SUCCESS mtime) and schema of the version this
    # closure last committed
    committed: dict = {}

    def marker(vdir: str) -> tuple | None:
        try:
            return vdir, os.stat(os.path.join(vdir, "_SUCCESS")).st_mtime_ns
        except OSError:  # no marker: the version is not committed
            return None

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one directory listing per micro-batch: the same committed-version
        # list picks the current snapshot AND the next version number
        # (listing + _SUCCESS stats against object storage are not free on
        # a hot foreachBatch path)
        vs = _versions(target_dir)
        current = None
        if vs:
            vdir = os.path.join(target_dir, f"v={vs[-1]}")
            schema = committed.get(marker(vdir))
            # the version this closure wrote: its schema is known, so the
            # read starts no schema-inference job
            reader = spark.read if schema is None else spark.read.schema(schema)
            current = reader.parquet(vdir)
        merged = (
            batch_df
            if current is None
            else current.unionByName(batch_df, allowMissingColumns=True)
        )
        ties = tiebreak_cols
        if ties is None:
            ties = sorted(
                c for c in merged.columns if c not in {*key_cols, order_col}
            )
        w = Window.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), *[F.col(c).desc_nulls_last() for c in ties]
        )
        deduped = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        next_v = vs[-1] + 1 if vs else 0
        next_dir = os.path.join(target_dir, f"v={next_v}")
        deduped.write.mode("overwrite").parquet(next_dir)
        committed.clear()
        committed[marker(next_dir)] = deduped.schema

    return merge


def dedup_ingest(
    store_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    **lsh_kwargs,
):
    """Build a ``foreachBatch(batch_df, batch_id)`` that near-dedups each
    micro-batch of documents AT INGESTION against the persistent signature
    store (:func:`~..operators.dedup.incremental_lsh_candidates`), writes
    the surviving documents, and appends the batch's band buckets so later
    batches see it as history.

    Survivor policy — first-seen wins, the streaming analogue of the batch
    ladder's keep-min-id: a new document matching ANY historical document
    drops; within a batch the smaller id survives. Matching is at the LSH
    candidate level (band collision); insert an exact-verify tier between
    candidates and the drop decision when false-positive drops matter.

    Exactly-once without a transactional table: both outputs land in
    ``batch=<batch_id>`` subdirectories written with overwrite, so a
    replayed batch rewrites its own directory instead of double-appending —
    idempotent, and the store stays partitioned by (batch, band) for
    partition-pruned reads. Unlike ``dropDuplicatesWithinWatermark`` the
    store never expires: dedup state is the full corpus history, bounded by
    corpus size (k longs per doc), not by a watermark horizon.
    """
    from ..operators.dedup import incremental_lsh_candidates

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        try:
            # exclude THIS batch's own directory: on a replay (crash after
            # the store write, before the checkpoint commit) the store
            # already holds batch=<batch_id>, and deduping the batch
            # against its own signatures would double-count bucket sizes —
            # a different capped set than the first attempt, breaking
            # replay idempotence
            store = (
                spark.read.parquet(store_dir)
                .filter(F.col("batch") != batch_id)
                .select(id_col, "band", "bucket")
            )
        except AnalysisException:  # first batch: no store yet. Any OTHER
            # read failure (transient FS error, corruption) must raise —
            # silently substituting an empty store would dedup the batch
            # against nothing and pollute the survivor corpus
            store = spark.createDataFrame(
                [], f"{id_col} long, band int, bucket long"
            )
        batch_df = batch_df.persist()
        pairs, additions = incremental_lsh_candidates(
            batch_df, store, id_col=id_col, **lsh_kwargs
        )
        # both writes below read the batch's band buckets: cache them so
        # the signature pipeline runs once per batch
        additions = additions.persist()
        # a new doc loses to ANY historical match, or to a smaller batch id
        sides = pairs.select(
            F.col("id_a").alias("x"), F.col("id_b").alias("o")
        ).union(pairs.select(F.col("id_b"), F.col("id_a")))
        new_tag = batch_df.select(F.col(id_col).alias("o")).withColumn(
            "_o_new", F.lit(True)
        )
        losers = (
            sides.join(new_tag, "o", "left")
            .filter(F.col("_o_new").isNull() | (F.col("o") < F.col("x")))
            .select(F.col("x").alias(id_col))
            .distinct()
        )
        survivors = batch_df.join(losers, id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        additions.write.mode("overwrite").partitionBy("band").parquet(
            os.path.join(store_dir, f"batch={batch_id}")
        )
        additions.unpersist()
        batch_df.unpersist()

    return merge


def jdbc_exactly_once_sink(
    url: str,
    table: str,
    batch_col: str = "batch_id",
    properties: dict | None = None,
):
    """Build a ``foreachBatch(batch_df, batch_id)`` that loads each
    micro-batch into a JDBC table with replay-idempotent semantics — the
    streaming tier of the S7 warehouse load (the reference's DAG loads its
    processed frame into Postgres per run, src/storage/data_warehouse.py:
    64-99; a streaming source makes that a per-epoch load).

    Exactly-once recipe for a non-transactional writer: every row carries
    its epoch id in ``batch_col``, and each delivery DELETEs its own epoch's
    rows before appending them. A batch replayed after a crash (foreachBatch
    gives at-least-once delivery; the checkpoint commits AFTER this function
    returns) rewrites exactly its own slice instead of double-appending —
    the table converges to one copy of every epoch. The DELETE is a
    driver-side metadata statement (bounded by one epoch's rows); the
    APPEND is the executor-parallel batched JDBC write.

    Scale posture: per-epoch parallel INSERT with ``batchsize`` batching is
    the same write path as the batch tier; the delete touches only the
    replayed epoch (indexed on ``batch_col`` in production DDL).
    """
    from ..sources.jdbc import write_jdbc

    def load(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm  # driver-side control statement, not a data path
        props = properties or {}
        if props.get("driver"):
            jvm.java.lang.Class.forName(props["driver"])
        # the control connection authenticates like the writer does: any
        # user/password in `properties` travel as connection Properties
        # (Derby ignores them; Postgres & friends require them)
        jprops = jvm.java.util.Properties()
        for k in ("user", "password"):
            if k in props:
                jprops.setProperty(k, props[k])
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            # Spark's JDBC writer CREATEs the table name UNQUOTED (the
            # database case-folds it) but quotes COLUMN names (stored
            # case-preserved) — the delete mirrors that exactly. Existence
            # is checked via DatabaseMetaData under both the given and the
            # case-folded spelling, with '_'/'%' escaped (they are SQL
            # pattern wildcards in getTables — unescaped, 'events_load'
            # would match an unrelated 'eventsXload' and trigger a DELETE
            # against a missing table). Only a genuinely-absent table skips
            # the delete (first delivery; the append creates it). Any other
            # failure raises: silently skipping the delete would turn a
            # replay into a double-append.
            meta = conn.getMetaData()
            esc = meta.getSearchStringEscape()

            def _pat(s: str) -> str:
                return s.replace("_", esc + "_").replace("%", esc + "%")

            # a schema-qualified name ('analytics.events_load') must probe
            # as (schema pattern, table pattern) — getTables matches the
            # TABLE NAME only against its third argument, so the qualified
            # string would never match, the DELETE would be skipped on
            # every delivery, and a replayed batch would double-append.
            schema_part, _, name_part = table.rpartition(".")
            schemas = (
                {schema_part, schema_part.upper(), schema_part.lower()}
                if schema_part
                else {None}
            )
            exists = False
            for sp in schemas:
                for spelling in {name_part, name_part.upper(), name_part.lower()}:
                    rs = meta.getTables(
                        None, _pat(sp) if sp else None, _pat(spelling), None
                    )
                    exists = rs.next()
                    rs.close()
                    if exists:
                        break
                if exists:
                    break
            if exists:
                stmt = conn.createStatement()
                stmt.executeUpdate(
                    f'DELETE FROM {table} WHERE "{batch_col}"'
                    f" = {int(batch_id)}"
                )
                stmt.close()
        finally:
            conn.close()
        write_jdbc(
            batch_df.withColumn(batch_col, F.lit(int(batch_id))),
            url,
            table,
            mode="append",
            properties=properties,
        )

    return load


class ProgressRecorder:
    """Streaming observability: a `StreamingQueryListener` that appends one
    JSON line per micro-batch (query name, batch id, input rows, processed
    rows/sec, batch duration, per-source watermark) to a metrics file — the
    ops feed the reference exposes through Airflow task logs, here from the
    engine itself. Attach with ``spark.streams.addListener``; detach with
    ``removeListener`` when the run ends."""

    def __init__(self, path: str):
        import pyspark.sql.streaming.listener as L

        self.path = path

        outer = self

        class _Listener(L.StreamingQueryListener):
            def onQueryStarted(self, event):
                outer._write(
                    {"event": "started", "name": event.name, "id": str(event.id)}
                )

            def onQueryProgress(self, event):
                p = event.progress
                outer._write(
                    {
                        "event": "progress",
                        "name": p.name,
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                        "rows_per_sec": p.processedRowsPerSecond,
                        "duration_ms": (p.durationMs or {}).get("triggerExecution"),
                        "watermark": (p.eventTime or {}).get("watermark"),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer._write(
                    {"event": "terminated", "id": str(event.id),
                     "exception": event.exception}
                )

        self.listener = _Listener()

    def _write(self, record: dict) -> None:
        import json

        with open(self.path, "a") as f:
            f.write(json.dumps(record, default=str) + "\n")

    def records(self) -> list[dict]:
        import json
        import os

        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]
