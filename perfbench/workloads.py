"""The benchmark's workloads: what one op runs and how its output is checked.

Both workloads are closed loops with one client: the next op starts when
the previous one has returned. Each ``Workload`` gives

- ``ops(pass_rng)``: the ops of one pass, as (name, layer, callable);
- ``check(...)``: the correctness checks, run once per run outside the
  timed passes, each reported as (layer, name, ok, detail).

An op callable takes ``(spark, tracer, group)`` and returns a dict of
facts about the op. In a traced run ``group`` is the op's job group and
the op lists in ``info["groups"]`` the further job groups its Spark work
ran under; in an untraced run ``tracer`` and ``group`` are None and the op
makes no extra Spark or py4j calls.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import bench
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.ml.dataset import (
    FEATURE_COLS,
    LABEL_COL,
    REF_DATE,
    churn_dataset,
)
from skiliopay_datapipeline_customer_spark.ml.pipeline import (
    deploy_gate,
    evaluate_classifier,
    train_classifier,
)
from skiliopay_datapipeline_customer_spark.ml.split import stratified_split
from skiliopay_datapipeline_customer_spark.parity import (
    compare_frames,
    duckdb_connection,
)
from skiliopay_datapipeline_customer_spark.pipelines.medallion import (
    MedallionPipeline,
)
from skiliopay_datapipeline_customer_spark.pipelines.warehouse import (
    build_star_schema,
)
from skiliopay_datapipeline_customer_spark.plans.report import plan_digest
from skiliopay_datapipeline_customer_spark.queries import all_oracles, all_queries
from skiliopay_datapipeline_customer_spark.streaming.sinks import (
    latest_snapshot,
    run_available_now,
    upsert_snapshot,
    version_history,
)
from skiliopay_datapipeline_customer_spark.streaming.sources import events_stream

from fixture import dir_bytes
from tracing import stream_listener

# The bench.HEADLINE queries the analyst workload runs, as many as fit one
# cold checked pass plus a timed pass in under a minute on a 4-core host:
# three eager dedup, similarity and selection operators that are cheap to
# check, and a star join. Left out: the three whose DuckDB oracles take
# 10-31 s each at any SF (minhash_lsh_candidates, ngram_jaccard_dups,
# dedup_clusters); simhash_near_pairs, which finds no pair on most seeded
# sf0.01 corpora (one on a few), so its check would prove little; and the
# rest of the 26 for time.
ANALYST_QUERIES = [
    name
    for name in bench.HEADLINE
    if name in {
        "flagship_revenue_by_nation",  # star join + agg
        "lsh_dup_pairs_fast",          # tiered LSH near-dup pairs
        "cms_heavy_hitter_tokens",     # count-min sketch + exact re-check
        "bloom_decontaminated_corpus", # broadcast-Bloom prefilter
    }
]


def pins(spark) -> list[str]:
    """Persisted RDDs (cached tables included) alive right now."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    out = []
    while it.hasNext():
        rdd = it.next()
        out.append(f"{rdd.id()}:{rdd.name() or rdd.toString()}")
    return out


class Analyst:
    """Ad-hoc analyst queries: each op builds one declared query and forces
    it with ``bench.force`` (noop sink), then ``bench.hygiene`` resets the
    session. The seed permutes the query order of each pass."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.queries = all_queries()

    def ops(self, rng):
        return [
            (name, "queries", self._op(name))
            for name in rng.permutation(ANALYST_QUERIES)
        ]

    def _op(self, name):
        fn = self.queries[name]

        def run(spark, tracer, group):
            if tracer is None:
                bench.force(fn(spark, self.sf_dir))
                return {}
            build, execute = f"{group}/build", f"{group}/exec"
            with tracer.span("build", "queries", group=build) as b:
                df = fn(spark, self.sf_dir)
            with tracer.span("plan", "plan") as p:
                df._jdf.queryExecution().executedPlan()
                digest = plan_digest(df)
            with tracer.span("exec", "exec", group=execute) as e:
                bench.force(df)
            return {
                "build_s": b["end"] - b["start"],
                "plan_s": p["end"] - p["start"],
                "exec_s": e["end"] - e["start"],
                "groups": [build, execute],
                "build_jobs": tracer.job_counters(build)["jobs"],
                "build_py4j_calls": b["py4j_calls"],
                "plan_exchanges": digest["exchanges"],
                "plan_python_evals": digest["python_evals"],
            }

        return run

    def check(self, spark):
        """Every query's rows against its DuckDB oracle through
        ``parity.compare_frames``. Run before the timed passes, so it is
        also the plan warm-up: each plan shape is compiled once."""
        oracles = all_oracles()
        con = duckdb_connection(self.sf_dir)
        out = []
        try:
            for name in ANALYST_QUERIES:
                try:
                    pdf = self.queries[name](spark, self.sf_dir).toPandas()
                    problems = compare_frames(pdf, con.execute(oracles[name]).fetchdf())
                except Exception as e:  # noqa: BLE001 — a crash is a failed check
                    problems = [f"{type(e).__name__}: {e}"]
                bench.hygiene(spark)
                out.append(("queries", name, not problems, problems[:1]))
        finally:
            con.close()
        return out


class _StageClock:
    """``MedallionPipeline`` stage logger that stamps each layer's start
    and end, and (traced) moves the job group to the stage that runs next,
    so bronze, quality, silver and gold jobs are counted apart."""

    def __init__(self, spark, group: str | None):
        self.sc = spark.sparkContext
        self.group = group
        self.t: dict[str, float] = {}

    def _move(self, stage: str | None) -> None:
        if self.group is not None:
            g = f"{self.group}/{stage}" if stage else self.group
            self.sc.setJobGroup(g, stage or "medallion")

    def stage_start(self, stage, input_rows=None):
        self.t[f"{stage}.start"] = time.perf_counter()
        self._move(stage)

    def stage_complete(self, stage, output_rows, input_rows=None, **extra):
        self.t[f"{stage}.end"] = time.perf_counter()
        self._move("quality" if stage == "bronze" else None)
        return {}

    def error(self, operation, error, **context):
        return {}


def rfm_gold(silver):
    """Gold layer: per-customer recency/frequency/monetary and the engine's
    RFM segment, score and category."""
    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        rfm_features,
    )

    per_cust = silver.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.datediff(F.lit(REF_DATE), F.max("o_orderdate")).alias("rfm_recency"),
        F.count("*").alias("rfm_frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("rfm_monetary"),
    )
    return rfm_features(per_cust)


DAYS = 8
# boosting rounds of the daily GBT (the engine default is 20): keeps one
# cold daily pass inside the per-run budget; the deploy gate still passes
GBT_ROUNDS = 3


class DailyChurn:
    """The paper's daily job for one seeded day: medallion (quality gate,
    dedup, median impute, IQR clip, RFM gold), the star warehouse, 8 event
    day-files landed and consumed by an availableNow stream into a
    latest-per-user snapshot, then the churn model trained, evaluated and
    gated. One pass is one day, from input files to a deploy decision."""

    def __init__(self, sf_dir: str, work_dir: str, seed: int):
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.first_day = seed % (30 - DAYS)  # events span 30 days
        self.last: dict = {}
        self.listener = None

    def ops(self, rng):
        if self.last:
            shutil.rmtree(self.last["dir"], ignore_errors=True)
        self.pass_dir = os.path.join(self.work_dir, f"pass{time.monotonic_ns()}")
        self.last = {"dir": self.pass_dir}
        return [
            ("medallion", "pipelines", self._medallion),
            ("warehouse", "pipelines", self._warehouse),
            ("land", "io", self._land),
            ("streaming", "streaming", self._stream),
            ("ml", "ml", self._ml),
        ]

    def _medallion(self, spark, tracer, group):
        clock = _StageClock(spark, group)
        pipe = MedallionPipeline(
            base_dir=os.path.join(self.pass_dir, "medallion"),
            feature_transforms=[rfm_gold],
            clean_kwargs={
                "key_cols": ["o_orderkey"],
                "numeric_impute": ["o_totalprice"],
                "clip_cols": ["o_totalprice"],
            },
            quality_kwargs={
                "key_columns": ["o_orderkey"],
                "completeness_columns": ["o_orderkey", "o_custkey", "o_totalprice"],
                "validity_rules": {"neg_price": F.col("o_totalprice") < 0},
                "outlier_columns": ["o_totalprice"],
            },
            stage_logger=clock,
        )
        res = pipe.run(spark, table(spark, self.sf_dir, "orders"), "orders.parquet")
        self.last["medallion"] = res
        t = clock.t
        info = {
            "bronze_s": t["bronze.end"] - t["bronze.start"],
            "quality_s": t["silver.start"] - t["bronze.end"],
            "silver_s": t["silver.end"] - t["silver.start"],
            "gold_s": t["gold.end"] - t["gold.start"],
        }
        if tracer is not None:
            stages = ("bronze", "quality", "silver", "gold")
            info["groups"] = [f"{group}/{s}" for s in stages]
            info["quality_jobs"] = tracer.job_counters(f"{group}/quality")["jobs"]
            info["write_bytes"] = dir_bytes(os.path.join(self.pass_dir, "medallion"))
            info["input_bytes_read"] = self._input_bytes()
        return info

    def _warehouse(self, spark, tracer, group):
        out_dir = os.path.join(self.pass_dir, "warehouse")
        self.last["warehouse"] = build_star_schema(spark, self.sf_dir, out_dir)
        return {"write_bytes": dir_bytes(out_dir)} if tracer else {}

    def _land(self, spark, tracer, group):
        """Land DAYS consecutive days of events, one parquet file per day,
        into the stream's input directory (written, then moved in whole)."""
        events = table(spark, self.sf_dir, "events")
        inbox = os.path.join(self.pass_dir, "inbox")
        os.makedirs(inbox)
        day0 = F.to_date(F.lit("2024-01-01"))
        for d in range(self.first_day, self.first_day + DAYS):
            staging = os.path.join(self.pass_dir, "staging", f"day{d:02d}")
            events.filter(F.datediff(F.to_date("ts"), day0) == d).coalesce(
                1
            ).write.parquet(staging)
            (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
            os.rename(
                os.path.join(staging, part),
                os.path.join(inbox, f"events-day{d:02d}.parquet"),
            )
        self.last["inbox"] = inbox
        return {}

    def _stream(self, spark, tracer, group):
        if tracer is not None and self.listener is None:
            self.listener = stream_listener(spark)
        snap = os.path.join(self.pass_dir, "snapshot")
        run_available_now(
            events_stream(spark, self.last["inbox"], max_files_per_trigger=1),
            os.path.join(self.pass_dir, "checkpoint"),
            foreach_batch=upsert_snapshot(snap, ["user_id"], "ts"),
        )
        self.last["snapshot"] = snap
        if tracer is None:
            return {}
        lst = self.listener
        lst.wait_terminated(len(lst.run_ids))
        run_id = lst.run_ids[-1]
        return {
            "groups": [run_id],
            "batches": [b for b in lst.batches if b["run_id"] == run_id],
            "input_bytes": dir_bytes(self.last["inbox"]),
            "rewrite_bytes": sum(v["bytes"] for v in version_history(snap)),
        }

    def _ml(self, spark, tracer, group):
        def span(name):
            if tracer is None:
                return nullcontext()
            return tracer.span(name, "ml", group=f"{group}/{name}")

        t0 = time.perf_counter()
        with span("dataset"):
            ds = stratified_split(
                churn_dataset(spark, self.sf_dir), LABEL_COL, key_col="c_custkey"
            ).cache()
        t1 = time.perf_counter()
        with span("train"):
            _model, transform = train_classifier(
                ds.filter(F.col("_split") == 0), FEATURE_COLS, LABEL_COL,
                maxIter=GBT_ROUNDS,
            )
        t2 = time.perf_counter()
        with span("eval"):
            metrics = evaluate_classifier(
                transform(ds.filter(F.col("_split") == 2)), LABEL_COL
            )
            self.last["deploy"] = deploy_gate(metrics)
        t3 = time.perf_counter()
        ds.unpersist()
        info = {"dataset_s": t1 - t0, "train_s": t2 - t1, "eval_s": t3 - t2}
        if tracer is not None:
            info["groups"] = [f"{group}/{s}" for s in ("dataset", "train", "eval")]
        return info

    def _input_bytes(self) -> int:
        """Bytes of the tables the medallion and warehouse read."""
        return sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
            for t in ("orders", "customer", "events")
        )

    def check(self, spark):
        """The last pass's outputs: layer row counts, FK orphans, the
        snapshot against each user's max ts, and the deploy gate."""
        last = self.last

        def rows():
            r = last["medallion"]["rows"]
            return r["bronze"] == r["silver"], r

        def gold():
            want = table(spark, self.sf_dir, "orders").select("o_custkey").distinct().count()
            got = last["medallion"]["rows"]["gold"]
            return got == want, {"gold": got, "customers": want}

        def fk():
            v = last["warehouse"]["fk"]
            return all(n == 0 for n in v.values()), v

        def snapshot():
            landed = spark.read.parquet(last["inbox"])
            want = landed.groupBy("user_id").agg(F.max("ts").alias("ts"))
            got = latest_snapshot(spark, last["snapshot"]).select("user_id", "ts")
            diff = want.exceptAll(got).count() + got.exceptAll(want).count()
            return diff == 0, {"rows_differing": diff}

        def deploy():
            return bool(last["deploy"]["deploy"]), last["deploy"]["checks"]

        out = []
        for layer, name, fn in [
            ("pipelines", "bronze_rows_eq_silver", rows),
            ("pipelines", "gold_rows_eq_customers", gold),
            ("pipelines", "fk_violations_zero", fk),
            ("streaming", "snapshot_eq_max_ts", snapshot),
            ("ml", "deploy_gate_passes", deploy),
        ]:
            try:
                ok, detail = fn()
            except Exception as e:  # noqa: BLE001 — a crash is a failed check
                ok, detail = False, f"{type(e).__name__}: {e}"[:500]
            out.append((layer, name, ok, detail))
        shutil.rmtree(last["dir"], ignore_errors=True)
        return out
