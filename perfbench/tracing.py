"""Spans and Spark counters for the traced run.

Spans are recorded in memory (name, layer, start, end, parent) around the
benchmark's calls into the engine's public functions and written out with
the run record. Each span that names a job group runs its Spark work under
``setJobGroup(group)``; ``job_counters`` then reads that group's jobs,
stages and task metrics from Spark's own status tracker and status store.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager


def jseq(seq) -> list:
    """A Scala Seq/Iterable seen through py4j, as a Python list."""
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self.py4j_calls = 0
        # count every driver-to-JVM round trip: each py4j JavaObject method
        # call goes through the one gateway client's send_command
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "group": group,
            "failed": False,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if group:
            self.sc.setJobGroup(group, name)
        calls = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except Exception:
            rec["failed"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - calls
            self._stack.pop()
            outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
            if group:
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counters(self, *groups: str) -> dict:
        """Jobs, stages, tasks and summed task metrics of every job run
        under ``groups``; a stage shared by two jobs counts once."""
        c = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
            "peak_task_mem_bytes": 0, "scan_bytes": 0, "scan_rows": 0,
            "task_skew": 1.0,
        }
        tracker = self.sc.statusTracker()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        seen: set[tuple[int, int]] = set()
        longest = (0, None)
        for g in groups:
            jobs = tracker.getJobIdsForGroup(g)
            c["jobs"] += len(jobs)
            for j in jobs:
                for sid in jseq(self._store.job(j).stageIds()):
                    for s in jseq(self._store.stageData(
                        sid, False, self._jvm.java.util.ArrayList(), False,
                        no_quantiles,
                    )):
                        key = (sid, s.attemptId())
                        if key in seen or s.status().toString() == "SKIPPED":
                            continue
                        seen.add(key)
                        c["stages"] += 1
                        c["tasks"] += s.numCompleteTasks()
                        run_ms = s.executorRunTime()
                        c["task_run_s"] += run_ms / 1e3
                        c["task_cpu_s"] += s.executorCpuTime() / 1e9
                        c["gc_s"] += s.jvmGcTime() / 1e3
                        c["shuffle_read_bytes"] += s.shuffleReadBytes()
                        c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                        c["spill_bytes"] += (
                            s.memoryBytesSpilled() + s.diskBytesSpilled()
                        )
                        c["peak_task_mem_bytes"] = max(
                            c["peak_task_mem_bytes"], s.peakExecutionMemory()
                        )
                        c["scan_bytes"] += s.inputBytes()
                        c["scan_rows"] += s.inputRecords()
                        if run_ms > longest[0]:
                            longest = (run_ms, key)
        if longest[1] is not None:
            c["task_skew"] = self._skew(*longest[1])
        return c

    def _skew(self, stage_id: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        q = self.sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._store.taskSummary(stage_id, attempt, q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        its child spans cover (children never overlap: one client)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            self_s = s["end"] - s["start"] - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + self_s
        return out


def heap_peak_mb(spark) -> float:
    """Peak used bytes summed over the driver JVM's heap memory pools."""
    jvm = spark.sparkContext._jvm
    total = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def reset_heap_peak(spark) -> None:
    jvm = spark.sparkContext._jvm
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the driver
    JVM, from /proc."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def percentile_summary(values: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it, with its percentile and the sample count. Below 21 samples that
    percentile would sit under the median, so the tail is the maximum."""
    vals = sorted(values)
    n = len(vals)
    if n >= 21:
        idx = n - 11  # ten samples above vals[idx]
        pct, tail = 100.0 * (idx + 1) / n, vals[idx]
    else:
        pct, tail = 100.0, vals[-1]
    return {"p50": statistics.median(vals), "tail": tail,
            "tail_pct": round(pct, 1), "n": n}


def stream_listener(spark):
    """Register and return a StreamingQueryListener that keeps each
    query's run id, its micro-batch progress and its termination."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.run_ids: list[str] = []
            self.batches: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "s": p.batchDuration / 1e3,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
            """Events arrive on Spark's listener bus after the query
            returns; wait for the n-th termination."""
            deadline = time.monotonic() + timeout_s
            while self.terminated < n and time.monotonic() < deadline:
                time.sleep(0.01)

    listener = Progress()
    spark.streams.addListener(listener)
    return listener
