"""The repo benchmark: one run of one workload, closed loop, one client.

    python3 perfbench/run.py --workload analyst-sf0.01 --seed 1 --seconds 5 --trace 0

Run from the repo root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, from a run whose ops are wrapped in spans
and Spark job groups. ``--record FILE`` also writes the full run record
(host fingerprint with machine probes, every op, spans, checks).

Other modes:
    --smoke                 every workload once at sf0.001, both trace modes;
                            asserts every named metric and that checks ran
    --baseline DIR          the host baseline: each workload untraced and
                            traced, records plus a summary with tracing overhead
    --compare OLD NEW       per-metric ratios of two records; refuses records
                            whose host fingerprints differ

See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SETUPS = 5  # set-ups per run; setup_s is their median
DRIVER_HEAP = "1g"


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the spark-submit launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    import tempfile

    tempfile.tempdir = None


def _session(work: str, cpus: int):
    from skiliopay_datapipeline_customer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # hsperfdata ignores java.io.tmpdir, so it is switched off
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def _warm_page_cache(sf_dir: str) -> None:
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            while f.read(1 << 24):
                pass


def _descendants() -> set[int]:
    """Pids of every process below this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [os.getpid()]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` is still a live process (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def _wait_gone(pids, timeout_s: float) -> set[int]:
    deadline = time.monotonic() + timeout_s
    left = {p for p in pids if _running(p)}
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = {p for p in left if _running(p)}
    return left


def shutdown() -> None:
    """Stop the Spark session and the driver JVM behind it, and wait until
    every process this run started (the JVM, its Python workers) has ended.
    Without it the JVM outlives this process by seconds: it only exits when
    it sees its stdin close."""
    from pyspark import SparkContext

    pids = _descendants()
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 — the JVM is stopped below anyway
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in _wait_gone(pids, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(pids, 30)


def fingerprint(spark, cpus: int) -> dict:
    import platform

    import pyspark

    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap": DRIVER_HEAP,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def run(workload: str, seed: int, seconds: float, trace: bool,
        sf: float | None = None, probe: bool = False) -> dict:
    import numpy as np

    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", workload)
    _env(work)
    import bench
    import fixture
    import tracing
    import workloads

    kind, default_sf = WORKLOADS[workload]
    sf = sf or default_sf
    cpus = len(os.sched_getaffinity(0))
    sf_dir = os.path.join(work, "fixture")

    # set-up, SETUPS times: (re)start the session, generate the seeded
    # fixture, read it into the page cache, run a first job over it
    spark, setups = None, []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _session(work, cpus)
        spark.range(1).count()
        t1 = time.perf_counter()
        rows = fixture.generate(sf, seed, sf_dir)
        _warm_page_cache(sf_dir)
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        setups.append({"s": time.perf_counter() - t0, "session_s": t1 - t0,
                       "fixture_s": time.perf_counter() - t1})

    wl = (
        workloads.Analyst(sf_dir)
        if kind == "analyst"
        else workloads.DailyChurn(sf_dir, os.path.join(work, "out"), seed)
    )
    tracer = tracing.Tracer(spark) if trace else None
    checks: list = []
    t0 = time.perf_counter()
    if kind == "analyst":
        checks += wl.check(spark)  # doubles as the plan warm-up
    warmup_s = time.perf_counter() - t0

    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "sf": sf, "fixture_rows": rows,
              "fingerprint": fingerprint(spark, cpus)}
    if probe:
        record["fingerprint"]["probe_before"] = bench.machine_probe(spark)
    if tracer:
        tracing.reset_heap_peak(spark)

    rng = np.random.default_rng(seed)
    passes = []
    t_loop = time.perf_counter()
    while not passes or time.perf_counter() - t_loop < seconds:
        p = len(passes)
        t_pass = time.perf_counter()
        ops = []
        for name, layer, fn in wl.ops(rng):
            group = f"p{p}/{name}" if tracer else None
            t = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(name, layer, group=group):
                        info = fn(spark, tracer, group)
                else:
                    info = fn(spark, None, None)
                ok = True
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                info, ok = {"error": f"{type(e).__name__}: {e}"[:500]}, False
            op = {"op": name, "layer": layer, "s": time.perf_counter() - t,
                  "ok": ok, **info}
            if tracer:
                op["counters"] = tracer.job_counters(group, *info.get("groups", []))
                op["pins"] = workloads.pins(spark)
            bench.hygiene(spark)
            ops.append(op)
        passes.append({"s": time.perf_counter() - t_pass, "ops": ops})

    if kind != "analyst":
        checks += wl.check(spark)
    if probe:
        record["fingerprint"]["probe_after"] = bench.machine_probe(spark)

    all_ops = [op for ps in passes for op in ps["ops"]]
    failed_ops = [op for op in all_ops if not op["ok"]]
    failed_checks = [c for c in checks if not c[2]]
    attempted = len(all_ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)
    op_s = tracing.percentile_summary([op["s"] for op in all_ops])
    record.update({
        "setups": setups,
        "warmup_s": warmup_s,
        "checks": [{"layer": c[0], "name": c[1], "ok": c[2], "detail": c[3]}
                   for c in checks],
        "passes": passes,
        "op_s": op_s,
        "failed_ratio": {"value": failed / attempted, "failed": failed,
                         "attempted": attempted},
    })
    record["end_to_end"] = {
        "setup_s": statistics.median(s["s"] for s in setups),
        "pass_s": statistics.median(ps["s"] for ps in passes),
        "op_s.p50": op_s["p50"],
        "op_s.tail": op_s["tail"],
        "peak_rss_mb": tracing.peak_rss_mb(spark),
    }
    if tracer:
        record["spans"] = tracer.spans
        record["self_s"] = tracer.self_times()
        record["per_layer"] = per_layer(
            passes, failed_ops, failed_checks, setups, warmup_s, cpus,
            tracing.heap_peak_mb(spark),
        )
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "record": record,
    }


def per_layer(passes, failed_ops, failed_checks, setups, warmup_s, cpus,
              heap_peak_mb) -> dict:
    """The per-layer metrics of a traced run, each summed per pass (the
    mean over the run's passes) unless its name says otherwise."""
    n = len(passes)
    ops = [op for ps in passes for op in ps["ops"]]

    def total(key, where=lambda op: True):
        return sum(op.get(key, 0) for op in ops if where(op)) / n

    def counter(key, where=lambda op: True):
        return sum(op["counters"][key] for op in ops if where(op)) / n

    def named(*names):
        return lambda op: op["op"] in names

    analyst = any(op["layer"] == "queries" for op in ops)
    exec_s = total("exec_s") if analyst else sum(op["s"] for op in ops) / n
    batches = [b for op in ops for b in op.get("batches", [])]
    stream_s = sum(b["s"] for b in batches)
    stream_in = total("input_bytes", named("streaming"))
    medallion_jobs = counter("jobs", named("medallion"))
    quality_jobs = total("quality_jobs")
    failed: dict[str, int] = {}
    for layer in (op["layer"] for op in failed_ops):
        failed[layer] = failed.get(layer, 0) + 1
    for c in failed_checks:
        failed[c[0]] = failed.get(c[0], 0) + 1
    m = {
        "queries.build_s": total("build_s"),
        "queries.build_jobs": total("build_jobs"),
        "queries.build_py4j_calls": total("build_py4j_calls"),
        "plan.s": total("plan_s"),
        "plan.exchanges": total("plan_exchanges"),
        "plan.python_evals": total("plan_python_evals"),
        "exec.s": exec_s,
        "exec.jobs": counter("jobs"),
        "exec.stages": counter("stages"),
        "exec.tasks": counter("tasks"),
        "exec.task_run_s": counter("task_run_s"),
        "exec.task_cpu_s": counter("task_cpu_s"),
        "exec.core_util": counter("task_run_s") / (exec_s * cpus) if exec_s else 0.0,
        "exec.task_skew": statistics.median(op["counters"]["task_skew"] for op in ops),
        "exec.gc_s": counter("gc_s"),
        "exec.shuffle_write_bytes": counter("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": counter("shuffle_read_bytes"),
        "exec.spill_bytes": counter("spill_bytes"),
        "exec.peak_task_mem_bytes": max(op["counters"]["peak_task_mem_bytes"] for op in ops),
        "io.scan_bytes": counter("scan_bytes"),
        "io.scan_rows": counter("scan_rows"),
        "operators.pins_leaked": sum(len(op["pins"]) for op in ops) / n,
        "jvm.heap_peak_mb": heap_peak_mb,
        "pipelines.bronze_s": total("bronze_s"),
        "pipelines.silver_s": total("silver_s"),
        "pipelines.gold_s": total("gold_s"),
        "pipelines.warehouse_s": sum(op["s"] for op in ops if op["op"] == "warehouse") / n,
        "pipelines.jobs": medallion_jobs - quality_jobs + counter("jobs", named("warehouse")),
        "pipelines.write_bytes_per_input_byte": (
            total("write_bytes", named("medallion", "warehouse")) / total("input_bytes_read")
            if total("input_bytes_read") else 0.0
        ),
        "quality.s": total("quality_s"),
        "quality.jobs": quality_jobs,
        "streaming.batches": len(batches) / n,
        "streaming.batch_s.p50": statistics.median(b["s"] for b in batches) if batches else 0.0,
        "streaming.rows_per_s": sum(b["rows"] for b in batches) / stream_s if stream_s else 0.0,
        "streaming.rewrite_bytes_per_input_byte": (
            total("rewrite_bytes") / stream_in if stream_in else 0.0
        ),
        "ml.dataset_s": total("dataset_s"),
        "ml.train_s": total("train_s"),
        "ml.eval_s": total("eval_s"),
        "ml.jobs": counter("jobs", named("ml")),
        "session.start_s": setups[0]["session_s"],
        "setup.fixture_s": statistics.median(s["fixture_s"] for s in setups),
        "setup.warmup_s": warmup_s,
        "trace.pass_s": statistics.median(ps["s"] for ps in passes),
    }
    for layer in ("queries", "plan", "exec", "io", "pipelines", "quality",
                  "streaming", "ml"):
        m[f"{layer}.failed"] = failed.get(layer, 0)
    return m


WORKLOADS = {
    # name: (workload kind, fixture scale factor)
    "analyst-sf0.01": ("analyst", 0.01),
    "daily-churn": ("daily", 0.001),
}


def _spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


def summary_line(record: dict) -> str:
    """Every end-to-end figure with its unit and sample count, including
    the unbounded ones (the op latencies and failed_ratio)."""
    e, op = record["end_to_end"], record["op_s"]
    return json.dumps({
        "workload": record["workload"],
        "setup_s": {"value": e["setup_s"], "unit": "s", "n": len(record["setups"])},
        "pass_s": {"value": e["pass_s"], "unit": "s", "n": len(record["passes"])},
        "op_s.p50": {"value": op["p50"], "unit": "s", "n": op["n"]},
        "op_s.tail": {"value": op["tail"], "unit": "s", "pct": op["tail_pct"], "n": op["n"]},
        "failed_ratio": {"unit": "ratio", **record["failed_ratio"]},
        "peak_rss_mb": {"value": e["peak_rss_mb"], "unit": "MB", "n": 1},
    })


def driver_line(result: dict, spec: dict, trace: bool) -> str:
    kind = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    metrics = result["record"][kind]
    return json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    })


def _subrun(workload: str, seed: int, seconds: float, trace: int,
            record: str, extra: list[str] = ()) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--record", record, *extra]
    with subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True) as proc:
        try:
            out, _ = proc.communicate(timeout=900)
        except subprocess.TimeoutExpired:
            proc.terminate()  # the child stops its JVM on SIGTERM
            proc.communicate()
            raise
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, cmd)
    return json.loads(out.strip().splitlines()[-1])


def smoke() -> int:
    """Every workload once at sf0.001 in both trace modes: every named
    metric is emitted with its unit, and the correctness checks ran."""
    spec = _spec()
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            rec_path = os.path.join(HERE, ".work", f"smoke-{w['name']}-{trace}.json")
            line = _subrun(w["name"], 1, 1, trace, rec_path, ["--sf", "0.001"])
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} trace={trace}: metrics {got} != {want}")
            with open(rec_path) as f:
                rec = json.load(f)
            if not rec["checks"]:
                problems.append(f"{w['name']} trace={trace}: no correctness checks ran")
            if not line["correct"]:
                problems.append(f"{w['name']} trace={trace}: {line['failed']} failed")
            print(f"smoke {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{len(rec['checks'])} checks, failed {line['failed']}")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


def baseline(out_dir: str, seed: int, seconds: float) -> int:
    """Each workload untraced then traced, in separate processes, with
    machine probes; writes both records and a summary."""
    os.makedirs(out_dir, exist_ok=True)
    summary = {}
    for w in _spec()["workloads"]:
        recs = {}
        for trace in (0, 1):
            path = os.path.join(out_dir, f"{w['name']}.trace{trace}.json")
            _subrun(w["name"], seed, seconds, trace, path, ["--probe"])
            with open(path) as f:
                recs[trace] = json.load(f)
        plain, traced = recs[0], recs[1]
        row = {
            "fingerprint": plain["fingerprint"],
            "end_to_end": plain["end_to_end"],
            "op_s": plain["op_s"],
            "failed_ratio": plain["failed_ratio"],
            "per_layer": traced["per_layer"],
            "self_s": traced["self_s"],
            "tracing_overhead_s": (
                traced["per_layer"]["trace.pass_s"] - plain["end_to_end"]["pass_s"]
            ),
        }
        if any(op.get("build_s") is not None for ps in traced["passes"] for op in ps["ops"]):
            row["decomposition"] = decomposition(traced)
        summary[w["name"]] = row
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 0


def decomposition(rec: dict) -> dict:
    """Per query, medians over passes: traced op seconds, its build, plan
    and exec parts and the share of the op they account for, build-time
    and total Spark jobs, and the pins left after the op."""
    rows: dict[str, dict] = {}
    for ps in rec["passes"]:
        for op in ps["ops"]:
            rows.setdefault(op["op"], []).append(op)
    out = {}
    for name, ops in sorted(rows.items()):
        row = {k: statistics.median(o[k] for o in ops)
               for k in ("s", "build_s", "plan_s", "exec_s", "build_jobs")}
        row["accounted"] = (row["build_s"] + row["plan_s"] + row["exec_s"]) / row["s"]
        row["jobs"] = statistics.median(o["counters"]["jobs"] for o in ops)
        row["pins_leaked"] = sorted({p for o in ops for p in o["pins"]})
        out[name] = row
    return out


def compare(old_path: str, new_path: str) -> int:
    """Ratios new/old of every shared metric, refused when the two records
    come from hosts that differ (cores, heap, versions, probe class)."""
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    fo, fn = old["fingerprint"], new["fingerprint"]
    keys = ("nproc", "SPARK_GRAFT_CPUS", "driver_heap", "python", "pyspark", "java")
    differ = [k for k in keys if fo.get(k) != fn.get(k)]
    for probe in ("py_1core_sec", "jvm_allcore_sec"):
        a = fo.get("probe_before", {}).get(probe)
        b = fn.get("probe_before", {}).get(probe)
        if not a or not b or max(a, b) / min(a, b) > 1.5:
            differ.append(f"probe_before.{probe}")
    if differ:
        print(json.dumps({"refused": "host fingerprints differ", "keys": differ,
                          "old": fo, "new": fn}))
        return 2
    if (old["workload"], old["trace"]) != (new["workload"], new["trace"]):
        print(json.dumps({"refused": "different workload or trace mode"}))
        return 2
    def metrics(rec):
        return {**rec["end_to_end"], **rec.get("per_layer", {})}

    ratios = {
        k: metrics(new)[k] / v
        for k, v in metrics(old).items()
        if k in metrics(new) and v
    }
    print(json.dumps({"workload": new["workload"], "ratios": ratios}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the full run record here")
    ap.add_argument("--probe", action="store_true",
                    help="bracket the timed passes with bench.machine_probe")
    ap.add_argument("--sf", type=float, help="override the workload's fixture scale")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--baseline", metavar="DIR")
    ap.add_argument("--compare", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args(argv)
    spec = _spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    if args.smoke:
        return smoke()
    if args.baseline:
        return baseline(args.baseline, args.seed, seconds)
    if args.compare:
        return compare(*args.compare)
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    # a SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args.workload, args.seed, seconds, bool(args.trace),
                     sf=args.sf, probe=args.probe)
    finally:
        shutdown()
    if args.record:
        with open(args.record, "w") as f:
            json.dump(result["record"], f, indent=1, default=str)
    print(summary_line(result["record"]))
    print(driver_line(result, spec, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
