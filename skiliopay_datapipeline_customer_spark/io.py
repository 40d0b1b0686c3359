"""Table loaders for the test star schema (TESTDATA.md).

Reference parity: S2 parquet scan (``src/processing/etl_pipeline.py:76-82``),
S15 latest-snapshot discovery (``scripts/run_processing.py:19-22``).

Scale notes: ``spark.read.parquet`` gives the vectorized reader, predicate
pushdown and column pruning for free; loaders never materialize. At 100 TB the
same call reads a date-partitioned directory tree and partition pruning
applies — nothing here is local-mode-specific.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# absolute path -> (file identity, its inferred schema); one entry per path,
# replaced when the file changes: see ``_read_parquet``
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
# the session confs that change how a parquet footer maps to Spark types
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job on a
    file it has read before.

    A schema-less read runs one Spark job over the footers. For a regular
    local file the inferred schema is memoized with the file's identity
    (mtime in ns, size) and the session's schema-conversion confs, and a
    later read with the same identity passes it with ``.schema(...)``: a
    rewritten file no longer matches and is inferred again. Directories
    (whose files can change without touching the directory's own stat)
    and remote URIs are never memoized.
    """
    try:
        st = None if urlparse(path).scheme else os.stat(path)
    except OSError:
        st = None  # a missing path: Spark raises its own error
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    ident = (
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
    )
    known = _SCHEMAS.get(key)
    if known is not None and known[0] == ident:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (ident, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one test table; Catalyst prunes columns/predicates.

    The table's file schema is inferred once per file version and then
    passed to the reader (``_read_parquet``), so a repeated call builds
    its DataFrame without a Spark job.

    events.ts is parquet TIMESTAMP(NANOS): with
    spark.sql.legacy.parquet.nanosAsLong it scans as long nanos, converted
    here to micro-precision TimestampType (same truncation DuckDB applies
    reading TIMESTAMP_NS into its micro TIMESTAMP).
    """
    # the driver supplies its own SparkSession — force the two confs query
    # correctness depends on (both runtime-settable, idempotent):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer `div`, NOT `/`: double division loses precision at 1e18 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Parquet files written without tz annotation scan as TIMESTAMP_NTZ, which
    # rejects unix_micros()/CAST-to-BIGINT. Under the UTC session tz forced
    # above, a cast to TIMESTAMP is wall-clock-preserving and matches DuckDB's
    # naive-timestamp reading, so downstream epoch arithmetic stays exact.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def read_written(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Read back the parquet layer just written from ``df`` at ``path``,
    with ``df``'s schema: the reader starts no schema-inference job, and a
    partition column keeps its written type (partition discovery would
    re-type a string ``"01"`` as int 1, or a ``yyyy-MM-dd`` string as a
    date). As with any partitioned read, partition columns come last."""
    return spark.read.schema(df.schema).parquet(path)


def written_rows(spark: SparkSession, path: str) -> int:
    """Row count of the parquet data under ``path``, summed from the file
    footers on the driver through the path's Hadoop file system: no Spark
    job, and the session is left as it was (an ``Observation`` would
    register the session's non-serializable observation manager, after
    which any ML model that keeps a training summary fails to ship its
    tasks). Hidden and metadata files (``.``/``_`` names) are skipped, as
    Spark's reader skips them."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    files = root.getFileSystem(conf).listFiles(root, True)
    rows = 0
    while files.hasNext():
        status = files.next()
        if status.getPath().getName().startswith((".", "_")):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
        )
        try:
            rows += reader.getRecordCount()
        finally:
            reader.close()
    return rows


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view for spark.sql() query paths."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, min_tasks: int | None = None) -> DataFrame:
    """Rebalance ``df`` ahead of a CPU-heavy per-row kernel IF its plan's
    parallelism is below the session's core count.

    Parquet scans parallelize at row-group granularity: a table written as
    one row group per file (the test fixtures; any small dimension dump)
    plans as ONE task no matter how many cores the session has, so an
    expensive map stage hanging off it (shingle explode + k hashes, plane
    projections, codec decode) runs single-threaded. On a 100 TB scan —
    thousands of splits — the guard sees parallelism ≥ cores and returns
    ``df`` untouched, so the hot path costs nothing at scale; it only
    inserts the round-robin exchange when the input is narrower than the
    machine, where shuffling the (small by definition) input is strictly
    cheaper than leaving cores idle through the kernel.

    Use only ahead of order-independent kernels (aggregations, per-row
    maps); round-robin repartition does not preserve row order.

    INPUT CONTRACT — pass a SCAN-SHAPED frame (read + select/filter), not a
    plan containing an exchange: the ``.rdd`` parallelism probe finalizes
    the AQE plan, which EXECUTES every shuffle stage in the input once for
    the probe and again for the real action. The guard below enforces this:
    a non-scan-shaped input is returned untouched (AQE already balances
    post-shuffle parallelism) instead of paying the double execution.
    """
    if min_tasks is None:
        # auto mode: only scan-shaped plans are probed — AQE already
        # balances post-shuffle parallelism, and the probe would double-run
        # the input's shuffle stages. An EXPLICIT min_tasks skips this
        # guard: the caller opted into the probe cost. The guard reads the
        # ANALYZED plan (r13): every guarded logical node (Join/Aggregate/
        # Window/Sort/Repartition/Deduplicate, and the set operators the
        # optimizer only later rewrites into aggregates and joins:
        # Distinct/Except/Intersect) already exists pre-optimizer, and
        # rendering the optimized plan cost ~0.35 s per call (the
        # optimizer run + toString) vs ~0.02 s here — per-query fixed cost
        # on every kernel path that uses fan_out.
        shuffle_nodes = (
            "Join", "Aggregate", "Window", "Sort", "Repartition", "Deduplicate",
            "Distinct", "Except", "Intersect",
        )
        logical = df._jdf.queryExecution().analyzed().toString()
        if any(tok in logical for tok in shuffle_nodes):
            return df
    target = min_tasks or df.sparkSession.sparkContext.defaultParallelism
    if min_tasks is None:
        files = df.inputFiles()
        if files:
            # file-size parallelism estimate (r13, replaces the ~0.15 s
            # .rdd conversion on the auto path): Spark's split packing
            # gives maxSplitBytes = min(maxPartitionBytes, max(openCost,
            # bytes/parallelism)), so a scan reaches ``target`` tasks
            # whenever total bytes ≥ target × openCost (4 MB). The guard
            # is balance-only (round-robin repartition ahead of
            # order-independent kernels — never correctness), so the
            # estimate only needs to agree with the packing at the
            # boundary: under the threshold the input is ≤ target×4 MB,
            # i.e. small by definition, and the exchange is cheap even
            # when a many-tiny-files layout would have parallelized
            # anyway. Non-file frames (checkpoints, local relations) and
            # remote schemes (s3/hdfs: a URI path that happens to exist
            # locally names a different file) keep the exact .rdd probe.
            import os as _os
            from urllib.parse import urlparse

            urls = [urlparse(f) for f in files]
            total = None
            if all(u.scheme in ("", "file") for u in urls):
                try:
                    total = sum(_os.path.getsize(u.path) for u in urls)
                except (OSError, ValueError):
                    pass  # unreadable local path: fall through to the probe
            if total is not None:
                if total >= target * (4 << 20):
                    return df
                return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
