"""One query run, measured: the per-query record of ``bench.py``.

``measure(spark, fn, sf_dir)`` builds a declared query under one job group,
forces it with the noop sink under a second, and returns one dict:

- ``s``: build start to forced-run end, the span ``bench.py``'s
  ``queries`` and ``queries_warm`` maps hold, split into ``build_s`` and
  ``exec_s``;
- ``jobs`` (every job the query ran) and ``build_jobs`` (the ones it ran
  while its frame was being built), counted per job group;
- ``pins``: persisted RDDs still alive when the query returns;
- ``plan``: :func:`plans.report.plan_digest` of the built frame, taken
  after the timed span;
- the JVM residue once :func:`hygiene` has run: ``stored_rdds``,
  ``stored_mem_bytes``, ``old_gen_used_mb`` and ``old_gc_cum_ms``;
- ``error``, when building or running the query raised.

This module is the only reader of job groups, the status tracker and the
JVM memory pools outside the benchmark (``tests/test_source_lint.py``).
"""

from __future__ import annotations

import gc
import os
import time
import uuid
from contextlib import contextmanager

from .report import plan_digest

_GROUP = "spark.jobGroup.id"


def force(df) -> None:
    """Run the whole plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def hygiene(spark) -> None:
    """Inter-query resource hygiene for long-lived sessions.

    The sf1 r11 record measured the warm pass SLOWER than cold (236 s vs
    189 s): consecutive heavy executions in one JVM accumulate cache
    blocks + broadcast cleanup debt until GC pressure halves throughput.
    Between queries: drop the Python-side frame refs (gc.collect lets the
    ContextCleaner queue their JVM blocks), clear the cache manager, and
    unpersist the persistent RDDs still alive.

    Those RDDs are the result pins SCALE.md's "Spark actions at build
    time" table keeps (``ngram_jaccard_pairs``, the distributed
    connected-components tiers, curated_selection_pipeline, and the
    bigram LM scorer and DSIR without a ``grams`` frame); every other
    operator is lazy and pins nothing. The gc-based chain cannot release
    the newest localCheckpoint pin: Python's gc only QUEUES the py4j
    detach, so the ContextCleaner frees it one query late (measured r12
    at sf1: one stored RDD held ~480 MB of old gen across hygiene
    cycles). Safe here because hygiene
    runs BETWEEN queries; do not call it while holding a
    localCheckpoint-derived frame (its lineage is truncated).
    The closing ``System.gc()`` is a full collection (~180 ms per call)
    and stays: measured at sf1 (the dedup/similarity/selection queries,
    4 cpus, 8g heap) without it, old gen after hygiene grew from
    0.2-1.0 GB to 1.7-2.7 GB and the warm pass was still slower than
    the cold one (236 s vs 218 s; 246 s vs 216 s with it).
    """
    gc.collect()
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    while it.hasNext():
        it.next().unpersist(False)
    spark.sparkContext._jvm.System.gc()


def warm_page_cache(sf_dir: str) -> None:
    """Read every parquet file of a fixture once, so a cold-disk first read
    does not land on whichever query scans that table first (up to 35%
    run-to-run variance that measures the machine, not the operators)."""
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(sf_dir, name), "rb") as f:
                while f.read(1 << 24):
                    pass


def _restore_group(sc, group: str | None) -> None:
    if group:
        sc.setJobGroup(group, "")
    else:
        sc.setLocalProperty(_GROUP, None)


@contextmanager
def job_group(spark, label: str = "run-record"):
    """Run the block's Spark jobs under a fresh job group and yield its id;
    the caller's own group, if any, is back in place on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_GROUP)
    group = f"{label}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, label)
    try:
        yield group
    finally:
        _restore_group(sc, prev)


def group_jobs(spark, group: str) -> set[int]:
    """Ids of every job run under ``group``. The listener bus is drained
    first: the status tracker learns of a job from a listener event, so a
    read straight after the last action can miss that action's job."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def non_sql_jobs(spark, jobs: set[int]) -> set[int]:
    """The ``jobs`` that ran outside any SQL execution. Every DataFrame
    action runs inside one; a schema-less parquet read runs its
    schema-inference (footer) job outside, while the reader is built."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    sql_jobs = set()
    it = store.executionsList(max(0, n - 500), 500).iterator()
    while it.hasNext():
        keys = it.next().jobs().keys().iterator()
        while keys.hasNext():
            sql_jobs.add(keys.next())
    return jobs - sql_jobs


def pins(spark) -> list[str]:
    """Persisted RDDs (cached tables included) alive right now."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    out = []
    while it.hasNext():
        rdd = it.next()
        out.append(f"{rdd.id()}:{rdd.name() or rdd.toString()}")
    return out


def residue(spark) -> dict:
    """What the JVM still holds: stored RDDs and their bytes, the old
    generation's heap use, and cumulative old-generation GC time. Flat
    values across repeated runs of one query mean a bounded residue;
    monotone growth is a leak."""
    jvm = spark.sparkContext._jvm
    stored = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mx = jvm.java.lang.management.ManagementFactory
    old_gen = 0
    for pool in mx.getMemoryPoolMXBeans().toArray():
        if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
            old_gen = pool.getUsage().getUsed()
    old_gc_ms = 0
    for bean in mx.getGarbageCollectorMXBeans().toArray():
        name = bean.getName()
        if "Old" in name or "MarkSweep" in name or "Mixed" in name:
            old_gc_ms += bean.getCollectionTime()
    return {
        "stored_rdds": len(stored),
        "stored_mem_bytes": int(sum(s.memSize() for s in stored)),
        "old_gen_used_mb": round(old_gen / 1e6, 1),
        "old_gc_cum_ms": int(old_gc_ms),
    }


def measure(spark, fn, sf_dir: str) -> dict:
    """Build ``fn(spark, sf_dir)``, force it, then clean up with
    :func:`hygiene`; returns the record described in the module docstring.
    A query that raises is returned with ``error`` and no timings."""
    sc = spark.sparkContext
    name = getattr(fn, "__name__", "query")
    tag = uuid.uuid4().hex
    build, execute = f"{name}/build-{tag}", f"{name}/exec-{tag}"
    prev = sc.getLocalProperty(_GROUP)
    rec: dict = {}
    df = None
    try:
        sc.setJobGroup(build, name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(execute, name)
        force(df)
        t2 = time.perf_counter()
        rec.update(
            s=round(t2 - t0, 3),
            build_s=round(t1 - t0, 3),
            exec_s=round(t2 - t1, 3),
        )
        rec["plan"] = plan_digest(df)
    except Exception as exc:  # noqa: BLE001 — recorded; the caller decides
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        _restore_group(sc, prev)
    built = group_jobs(spark, build)
    rec["jobs"] = len(built | group_jobs(spark, execute))
    rec["build_jobs"] = len(built)
    rec["pins"] = pins(spark)
    del df
    hygiene(spark)
    rec.update(residue(spark))
    return rec
