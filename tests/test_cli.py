"""CLI entry-point tests — the engine twin of the reference's
scripts/run_*.py operational surface (SURVEY §3.4), driven in-process."""

from __future__ import annotations

import json

import pytest

from skiliopay_datapipeline_customer_spark.__main__ import main


def test_cli_list_names_queries(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) > 200
    names = {line.split("\t")[0] for line in out}
    assert "flagship_revenue_by_nation" in names
    assert any(line.endswith("\trows-only") for line in out)


def test_cli_run_outputs_json_rows(capsys, sf_dir):
    assert main(["--sf-dir", sf_dir, "run", "global_kpis", "--json"]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rows and rows[0]["n_orders"] > 0


def test_cli_run_unknown_query_errors(capsys):
    assert main(["run", "no_such_query"]) == 2


def test_cli_check_reports_oracle_match(capsys, sf_dir):
    assert main(["--sf-dir", sf_dir, "check", "pricing_summary"]) == 0
    assert "OK" in capsys.readouterr().out


def test_cli_accepts_shared_flags_after_subcommand(capsys, sf_dir):
    # the documented `run <query> [--sf-dir D]` postfix form
    assert main(["run", "global_kpis", "--sf-dir", sf_dir, "--json"]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rows and rows[0]["n_orders"] > 0
    # a prefix value survives subparser parsing (no default clobbering)
    assert main(["--sf-dir", sf_dir, "check", "pricing_summary"]) == 0
    assert "OK" in capsys.readouterr().out


def test_cli_quality_gate_passes_on_clean_orders(capsys, sf_dir):
    assert main(["--sf-dir", sf_dir, "quality"]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["passed"] and payload["overall"] >= 0.8


def test_cli_sql_runs_over_registered_views(capsys, sf_dir):
    assert (
        main(
            [
                "--sf-dir",
                sf_dir,
                "sql",
                "SELECT count(*) AS n FROM orders",
                "--json",
            ]
        )
        == 0
    )
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rows[0]["n"] > 0


def test_cli_freshness_exit_code_tracks_staleness(capsys, spark, sf_dir, tmp_path):
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.sources.snapshots import (
        write_dated_snapshot,
    )

    raw = str(tmp_path / "raw")
    write_dated_snapshot(table(spark, sf_dir, "region"), raw, "churn_data", "20240102")
    assert (
        main(
            ["freshness", "--layer", f"raw:{raw}:churn_data", "--expected", "20240102"]
        )
        == 0
    )
    assert (
        main(
            ["freshness", "--layer", f"raw:{raw}:churn_data", "--expected", "20240103"]
        )
        == 1
    )


def test_cli_explain_reports_plan_digest(capsys, sf_dir):
    assert main(["--sf-dir", sf_dir, "explain", "flagship_revenue_by_nation"]) == 0
    digest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert digest["broadcast_joins"] >= 1 and not digest["has_cartesian"]


def test_cli_maintain_compacts_small_files(capsys, spark, sf_dir, tmp_path):
    from skiliopay_datapipeline_customer_spark.io import table

    path = str(tmp_path / "frag")
    table(spark, sf_dir, "orders").repartition(16).write.mode(
        "overwrite"
    ).parquet(path)
    assert main(["maintain", path, "--target-mb", "64"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compact"]["files_after"] < out["compact"]["files_before"]
    assert spark.read.parquet(path).count() == table(spark, sf_dir, "orders").count()


def test_cli_maintain_vacuums_versions(capsys, spark, tmp_path):
    import os

    path = str(tmp_path / "versioned")
    for v in range(4):
        spark.range(v + 1).write.parquet(os.path.join(path, f"v={v}"))
    assert main(["maintain", path, "--vacuum-keep", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["vacuum"]["removed_versions"] == [0, 1]


def test_cli_dag_runs_churn_graph(capsys, tmp_path):
    assert main(["dag", "--model", "lr", "--out", str(tmp_path / "run")]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["ok"]
    assert payload["states"]["deploy_model"]["state"] == "success"
    assert payload["states"]["notify_failure"]["state"] == "skipped"
    assert payload["metrics"]["roc_auc"] >= 0.8


def test_bench_deltas_flag_regressions_vs_latest_record(tmp_path):
    """bench.py's deltas block must compare against the newest BENCH_r*.json
    (driver-wrapped under "parsed", corrupt files tolerated) and flag >1.5x
    per-query regressions on measurable (>0.5 s) queries only. Hermetic:
    synthetic records in tmp_path, NOT the repo's real (variance-prone)
    round history."""
    import json

    from bench import HEADLINE, _deltas

    # real headline names: the base-record filter requires ≥75% coverage of
    # the CURRENT headline set (rejects unmarked ad-hoc subsets)
    heavy, mid, fast = HEADLINE[0], HEADLINE[1], HEADLINE[2]
    qs = {n: 1.0 for n in HEADLINE}
    qs[heavy], qs[mid], qs[fast] = 4.0, 1.0, 0.2
    prev = {
        "metric": "headline_queries_total_time",
        "value": round(sum(qs.values()), 3),
        "queries": qs,
        "sf": 0.1,
    }
    (tmp_path / "BENCH_r7.json").write_text(json.dumps({"parsed": prev}))
    (tmp_path / "BENCH_r6.json").write_text("{corrupt")  # skipped, not fatal
    (tmp_path / "BENCH_r9.json").write_text('{"no_queries": true}')  # filtered
    root = str(tmp_path)

    same = _deltas(dict(qs), root=root)
    assert same["vs_round"] == 7 and same["flagged"] == []
    assert same["prev_total"] == prev["value"] and same["total_ratio"] == 1.0
    # a 2x regression on a measurable query flags; new queries don't crash
    bumped = {**qs, heavy: 8.0, "brand_new": 1.0}
    d = _deltas(bumped, root=root)
    assert d["flagged"] == [heavy] and "brand_new" not in d["ratios"]
    # sub-half-second noise never flags (3x on a 0.2s query)
    assert _deltas({**qs, fast: 0.45}, root=root)["flagged"] == []
    # no usable record → empty deltas
    empty = _deltas({"q": 1.0}, root=str(tmp_path / "nowhere"))
    assert empty == {"vs_round": None, "ratios": {}, "flagged": []}
    # records at a different SF never compare (scale ≠ regression)
    assert _deltas(dict(qs), root=root, sf=0.1)["vs_round"] == 7
    assert _deltas(dict(qs), root=root, sf=0.01)["vs_round"] is None
    # a LATER marked subset record is rejected as a base (the advisor's
    # delta-poisoning scenario) — comparison stays pinned to r7
    (tmp_path / "BENCH_r8.json").write_text(
        json.dumps(
            {
                "parsed": {
                    "metric": "headline_queries_subset_time",
                    "value": 2.0,
                    "queries": {heavy: 2.0},
                    "sf": 0.1,
                    "subset": [heavy],
                }
            }
        )
    )
    assert _deltas(dict(qs), root=root)["vs_round"] == 7
    # ...and so is a later UNMARKED record covering only a sliver of the
    # headline set (legacy ad-hoc save)
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps(
            {
                "parsed": {
                    "metric": "headline_queries_total_time",
                    "value": 1.0,
                    "queries": {heavy: 1.0, mid: 1.0},
                    "sf": 0.1,
                }
            }
        )
    )
    assert _deltas(dict(qs), root=root)["vs_round"] == 7
    # a subset CURRENT run keeps per-query ratios but nulls the total
    # comparison — subset-total / full-base-total is a misleading sliver
    sub = _deltas({heavy: 4.0, mid: 1.0}, root=root)
    assert sub["vs_round"] == 7 and sub["ratios"] == {heavy: 1.0, mid: 1.0}
    assert sub["total_ratio"] is None and sub["prev_total"] is None



def test_bench_deltas_refuse_a_base_from_another_core_count(tmp_path):
    """bench.py's deltas compare only records taken on as many cores: a
    wrapped record carries the core count in its envelope, outside
    "parsed" (kept through the unwrap), a `--record` file carries it in its
    own line, and a record with no core count is no base once the run
    states its own."""
    import json

    from bench import HEADLINE, _deltas

    qs = {n: 1.0 for n in HEADLINE}
    line = {
        "metric": "headline_queries_total_time",
        "value": float(len(qs)),
        "queries": qs,
        "sf": 0.1,
    }
    (tmp_path / "BENCH_r3.json").write_text(json.dumps(line))
    (tmp_path / "BENCH_r5.json").write_text(json.dumps({**line, "cpus": 4}))
    (tmp_path / "BENCH_r7.json").write_text(json.dumps({"cpus": 32, "parsed": line}))
    root = str(tmp_path)

    assert _deltas(dict(qs), root=root, cpus=32)["vs_round"] == 7
    assert _deltas(dict(qs), root=root, cpus=4)["vs_round"] == 5
    assert _deltas(dict(qs), root=root, cpus=8) == {
        "vs_round": None,
        "ratios": {},
        "flagged": [],
    }
    # without a core count of its own, a run compares as before
    assert _deltas(dict(qs), root=root)["vs_round"] == 7

def test_bench_line_survives_driver_stdout_tail():
    """The round driver keeps only the LAST 2000 chars of bench stdout; a
    record that renders >1900 chars must degrade (outlier-only ratios, then
    no warm block) until the printed line parses out of that tail. r06's
    record was silently unparseable for a full round — regression-proof the
    class with a synthetic oversized record round-tripped through the
    truncation."""
    import json

    from bench import _DRIVER_TAIL_BUDGET, _fit_line

    qs = {f"query_with_a_long_name_{i:03d}": 1.234 for i in range(40)}
    out = {
        "metric": "headline_queries_total_time",
        "value": 49.36,
        "unit": "sec",
        "queries": qs,
        "warm_total": 40.0,
        "queries_warm": dict(qs),
        "sf": 0.1,
        "deltas": {
            "vs_round": 7,
            "prev_total": 50.0,
            "total_ratio": 0.987,
            # all ratios in-band → the slim step drops the whole map
            "ratios": {n: 1.001 for n in qs},
            "flagged": [],
        },
    }
    assert len(json.dumps(out)) > 2000  # the r06 failure precondition
    line = _fit_line(out)
    assert len(line) <= _DRIVER_TAIL_BUDGET
    # simulate the driver: arbitrary log noise before the line, keep the
    # 2000-char tail, parse the last line out of it
    tail = ("spark log noise\n" * 300 + line)[-2000:]
    parsed = json.loads(tail[tail.rindex("\n") + 1 :] if "\n" in tail else tail)
    assert parsed["value"] == 49.36 and parsed["warm_total"] == 40.0
    assert parsed["deltas"]["vs_round"] == 7
    # a small record passes through verbatim
    small = {"metric": "m", "value": 1.0, "queries": {}, "deltas": {"ratios": {}}}
    assert json.loads(_fit_line(small)) == small
    # a SUBSET record never wrote BENCH_FULL.json, so its degradation notes
    # must not point readers at a stale prior round's full record
    sub = dict(out, metric="headline_queries_subset_time", subset=sorted(qs))
    sub_line = _fit_line(sub)
    assert len(sub_line) <= _DRIVER_TAIL_BUDGET
    assert "BENCH_FULL.json" not in sub_line
    assert "not persisted (subset run)" in sub_line
    # CONTENDED-session shape (measured live in r12: 19/26 ratios outside
    # the 0.8–1.25 band + a 10-name flagged list rendered 1995 chars): the
    # outlier-only step no longer shrinks anything, so the cascade must
    # shed least-extreme outliers (keeping the most extreme) and, if ever
    # needed, degrade flagged to a count — and still fit and parse
    contended = json.loads(json.dumps(out))
    contended["deltas"]["ratios"] = {
        n: 1.5 + i / 100 for i, n in enumerate(qs)
    }
    contended["deltas"]["flagged"] = sorted(qs)
    line = _fit_line(contended)
    assert len(line) <= _DRIVER_TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == 49.36 and parsed["deltas"]["vs_round"] == 7
    kept = parsed["deltas"]["ratios"]
    if kept:  # the survivors must be the MOST extreme ratios
        assert min(kept.values()) >= max(
            v
            for n, v in contended["deltas"]["ratios"].items()
            if n not in kept
        )


def test_selfcheck_only_requires_distinct_stem(tmp_path):
    """--only is a partial sweep: without a distinct --stem it would
    silently overwrite the canonical full-sweep SELFCHECK_r{N}.json with a
    record indistinguishable in shape — must exit before starting Spark."""
    import pytest

    import selfcheck

    for argv in (
        ["9", "--only", "pricing_summary"],
        ["9", "--only", "pricing_summary", "--stem", "SELFCHECK"],
        ["9", "--only", "pricing_summary", "--adversarial",
         "--stem", "SELFCHECK_ADV"],
    ):
        with pytest.raises(SystemExit, match="distinct --stem"):
            selfcheck.main(argv)
    # unknown names still rejected first
    with pytest.raises(SystemExit, match="unknown --only"):
        selfcheck.main(["9", "--only", "no_such_query", "--stem", "X"])


def test_bench_query_lists_resolve_in_registry():
    """Every name bench.py times (the headline set, which the scaling curve
    times too) must be a declared registry query: a rename that misses
    bench would otherwise crash the per-round BENCH run (KeyError
    at timing, after the expensive warmup)."""
    from bench import HEADLINE

    from skiliopay_datapipeline_customer_spark.queries import all_queries

    names = set(all_queries())
    assert set(HEADLINE) <= names, sorted(set(HEADLINE) - names)


def test_bench_resolve_sf_dir_normalizes_float_tokens(tmp_path, monkeypatch):
    """gen_sf.py names fixture dirs with %g (sf1, not sf1.0) — a
    ``--sfs 1.0`` invocation must still find them, while literal driver
    names (sf0.001) keep matching verbatim."""
    import bench

    (tmp_path / "sf1").mkdir()
    (tmp_path / "sf0.001").mkdir()
    monkeypatch.setattr(bench, "_TESTDATA_ROOT", str(tmp_path))
    monkeypatch.setattr(bench, "_LOCAL_TESTDATA", str(tmp_path / "none"))
    assert bench._resolve_sf_dir("1.0").endswith("sf1")
    assert bench._resolve_sf_dir("1").endswith("sf1")
    assert bench._resolve_sf_dir("0.001").endswith("sf0.001")
    with pytest.raises(SystemExit, match="no fixture"):
        bench._resolve_sf_dir("7")


def test_bench_scaling_rejects_single_sf_list():
    """scaling() computes a last-step ratio — a single-SF list must exit
    with a clear message instead of an IndexError deep in the loop."""
    import bench

    with pytest.raises(SystemExit, match="scaling needs >= 2 SFs"):
        bench.scaling(sfs=["0.1"])


def test_bench_hygiene_releases_lingering_checkpoint_pin(spark):
    """gc.collect only QUEUES the py4j detach (pyspark's pinned-thread
    ClientServer defers it), so the ContextCleaner cannot release the
    newest localCheckpoint pin inside one hygiene call — measured at sf1:
    one stored RDD held ~480 MB of G1 Old Gen across hygiene cycles and
    old-generation GC time grew 4x over three identical runs. hygiene()
    therefore unpersists lingering persistent RDDs explicitly; this pins
    that behavior."""
    import gc

    from bench import hygiene

    df = spark.range(50_000).selectExpr("id", "id * 2 as x").localCheckpoint(
        eager=True
    )
    assert df.count() == 50_000
    sc = spark.sparkContext
    del df
    gc.collect()
    # the detach lag: the pin survives a plain collect
    assert sc._jsc.sc().getPersistentRDDs().size() >= 1
    hygiene(spark)
    assert sc._jsc.sc().getPersistentRDDs().size() == 0
    assert len(sc._jsc.sc().getRDDStorageInfo()) == 0
