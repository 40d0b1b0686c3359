"""Concurrent Spark actions from one driver: the package's only thread pool.

A driver that runs independent actions one after another leaves the
executors idle through every action's fixed cost (planning, job submit,
the output commit). ``run_all`` submits such actions from driver threads
so their jobs overlap; Spark's scheduler is thread-safe and shares the
cores between them.

Each callable runs under ``pyspark.inheritable_thread_target``, so the
caller's local properties (job group, job description, scheduler pool)
and session tags hold in the pool thread as well. Without it, the pool's
jobs silently lose the caller's job group.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_all(spark: SparkSession, fns: Sequence[Callable[[], Any]]) -> list:
    """Run ``fns`` concurrently and return their results in order.

    Waits for every callable to finish, also when one fails; then
    re-raises the first failure in submission order. No Spark job a
    callable started is still running when this returns or raises.
    A fresh pool per call: a reused pool thread would keep the tags of
    an earlier call.
    """
    with ThreadPoolExecutor(max_workers=max(1, len(fns))) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn)) for fn in fns]
    # leaving the with-block joined every thread: every future is done, and
    # result() re-raises the first failure in submission order
    return [f.result() for f in futures]
