"""Data-quality report operator family (SURVEY §2.9 V4-V10).

Reference parity: src/processing/data_quality.py runs six per-column loops;
this engine computes every statistic of the requested reports in at most
TWO actions, and the composite gate as driver-side scalar math over the
collected rows (A14 weights .25/.20/.25/.20/.10, PASS ≥ 0.8 —
data_quality.py:51-52,360-374):

1. one `df.agg`: row count, null counts, key distinct counts, rule and
   invariant violation counts, and the outlier fences;
2. one pass over ``df.groupBy(<every column>).count()``: the distinct-row
   count for the duplicate-row rate, and the outlier counts weighted by
   row multiplicity (fences from action 1 are literals here). Without
   the uniqueness report (`outliers` alone) it is a plain `df.agg`.

`run_quality_checks` always runs exactly these two, whatever the number
of columns or rules. Each statistic is written once, in `_reports`; the
per-report functions are calls of it. Scale: action 1 is one scan with
map-side partial aggregation; action 2 shuffles the distinct rows once,
as the dup-row rate's `dropDuplicates` pass did; one metrics row is
collected per action. Percentile fences use exact `percentile` (oracle
parity ≤ sf0.1); ``approx=True`` swaps in `approx_percentile`, the 100 TB
profiler path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ranks import _fresh

WEIGHTS = {
    "completeness": 0.25,
    "uniqueness": 0.20,
    "validity": 0.25,
    "consistency": 0.20,
    "outliers": 0.10,
}
PASS_THRESHOLD = 0.8


@dataclass
class QualityReport:
    scores: dict[str, float] = field(default_factory=dict)
    details: dict[str, dict] = field(default_factory=dict)

    @property
    def overall(self) -> float:
        return sum(WEIGHTS[k] * self.scores.get(k, 1.0) for k in WEIGHTS)

    @property
    def passed(self) -> bool:
        return self.overall >= PASS_THRESHOLD


def _col(name: str):
    """Column by its exact name — dots and backticks are part of it."""
    return F.col("`" + name.replace("`", "``") + "`")


def _reports(
    df: DataFrame,
    completeness_columns: list[str] | None = None,
    key_columns: list[str] | None = None,
    rules: dict | None = None,
    invariants: dict | None = None,
    outlier_columns: list[str] | None = None,
    k: float = 1.5,
    approx: bool = False,
) -> dict[str, dict]:
    """The requested reports (an argument left None is not requested),
    from at most two actions — see the module docstring.

    rules/invariants: {name: violation Column}. Outliers are IQR fences
    at ``k``; approx=True takes them from approx_percentile."""
    stats = [F.count(F.lit(1))]

    def stat(expr) -> int:
        stats.append(expr)
        return len(stats) - 1

    nulls = {c: stat(F.count_if(_col(c).isNull())) for c in completeness_columns or []}
    keys = {c: stat(F.countDistinct(_col(c))) for c in key_columns or []}
    checks = {"validity": rules, "consistency": invariants}
    broken = {
        report: {name: stat(F.count_if(cond)) for name, cond in (given or {}).items()}
        for report, given in checks.items()
    }
    pct = (
        (lambda c, p: F.approx_percentile(c, F.lit(p), F.lit(10_000)))
        if approx
        else (lambda c, p: F.percentile(c, F.lit(p)))
    )
    fences = {
        c: (stat(pct(_col(c), 0.25)), stat(pct(_col(c), 0.75)))
        for c in outlier_columns or []
    }
    row = df.agg(*[e.alias(f"s{i}") for i, e in enumerate(stats)]).collect()[0]
    n_rows = row[0]
    n = n_rows or 1

    distinct_rows = None
    outlier_counts: dict[str, int] = {}
    if key_columns is not None or fences:
        # action 2: outliers are counted per distinct row, weighted by its
        # multiplicity, over the grouping that also counts distinct rows
        # (uniqueness); without uniqueness, over the rows themselves
        if key_columns is not None:
            weight = _fresh({c.lower() for c in df.columns}, "_n")
            source = df.groupBy(*[_col(c) for c in df.columns]).agg(
                F.count(F.lit(1)).alias(weight)
            )
            w = F.col(weight)
        else:
            source, w = df, F.lit(1)
        conds = {}
        for c, (i1, i3) in fences.items():
            q1, q3 = row[i1], row[i3]
            if q1 is None or q3 is None:
                # all-NULL column / empty frame: no fences, nothing is an
                # outlier — report 0.0 instead of crashing the composite gate
                conds[c] = F.lit(False)
                continue
            iqr = q3 - q1
            conds[c] = (_col(c) < q1 - k * iqr) | (_col(c) > q3 + k * iqr)
        row2 = source.agg(
            F.count(F.lit(1)),
            *[F.sum(F.when(cond, w).otherwise(0)) for cond in conds.values()],
        ).collect()[0]
        distinct_rows = row2[0]
        # sum over an EMPTY frame is NULL, not 0 — same degenerate case
        outlier_counts = {c: row2[i + 1] or 0 for i, c in enumerate(conds)}

    out: dict[str, dict] = {}
    if completeness_columns is not None:
        cols = completeness_columns
        rates = {c: row[nulls[c]] / n for c in cols}
        out["completeness"] = {
            "null_rates": rates,
            "flagged": [c for c, r in rates.items() if r > 0.10],
            "score": 1.0 - sum(row[nulls[c]] for c in cols) / (n * len(cols)),
            "n_rows": n_rows,
        }
    if key_columns is not None:
        dup_rate = 1.0 - distinct_rows / n
        key_uniq = {c: row[keys[c]] / n for c in key_columns}
        avg_uniq = sum(key_uniq.values()) / max(len(key_uniq), 1)
        out["uniqueness"] = {
            "key_uniqueness": key_uniq,
            "dup_row_rate": dup_rate,
            "score": avg_uniq * (1.0 - dup_rate),
            "n_rows": n_rows,
        }
    for report, given in checks.items():
        if given is None:
            continue
        if not given:
            out[report] = {"violations": {}, "score": 1.0}
            continue
        violations = {name: row[i] for name, i in broken[report].items()}
        issues = sum(1 for v in violations.values() if v > 0)
        out[report] = {
            "violations": violations,
            "score": 1.0 - issues / len(given),
            "n_rows": n_rows,
        }
    if outlier_columns is not None:
        if not outlier_columns:
            out["outliers"] = {"outlier_rates": {}, "flagged": [], "score": 1.0}
        else:
            rates = {c: outlier_counts[c] / n for c in outlier_columns}
            out["outliers"] = {
                "outlier_rates": rates,
                "flagged": [c for c, r in rates.items() if r > 0.05],
                "score": 1.0 - sum(rates.values()) / max(len(rates), 1),
                "n_rows": n_rows,
            }
    return out


def completeness(df: DataFrame, columns: list[str] | None = None) -> dict:
    return _reports(df, completeness_columns=columns or df.columns)["completeness"]


def uniqueness(df: DataFrame, key_columns: list[str]) -> dict:
    """Key uniqueness plus the dup-row rate over all columns (U1)."""
    return _reports(df, key_columns=key_columns)["uniqueness"]


def validity(df: DataFrame, rules: dict[str, object]) -> dict:
    """rules: {rule_name: violation Column}. One conditional-count pass."""
    return _reports(df, rules=rules)["validity"]


def consistency(df: DataFrame, invariants: dict[str, object]) -> dict:
    """invariants: {name: violated Column} (e.g. 30d > 90d)."""
    return _reports(df, invariants=invariants)["consistency"]


def outliers(
    df: DataFrame, columns: list[str], k: float = 1.5, approx: bool = False
) -> dict:
    """IQR-fence outlier rate per column — two passes total (fences + rate),
    regardless of column count. approx=True swaps exact percentile for
    approx_percentile (t-digest, fixed memory) — the 100 TB profiler path
    where a fence a few ulps off changes nothing."""
    return _reports(df, outlier_columns=columns, k=k, approx=approx)["outliers"]


def distribution(df: DataFrame, label_col: str, category_col: str) -> dict:
    """V9: label balance (flag <5% / >50%) + category dominance (>80%)."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.col(label_col).cast("int")).alias("pos"),
    ).first()
    n = row["n"] or 1
    label_rate = (row["pos"] or 0) / n
    top = (
        df.groupBy(category_col)
        .count()
        .orderBy(F.desc("count"), category_col)
        .first()
    )
    top_share = (top["count"] / n) if top else 0.0
    return {
        "label_rate": label_rate,
        "label_balanced": 0.05 <= label_rate <= 0.50,
        "top_category": top[category_col] if top else None,
        "top_category_share": top_share,
        "dominated": top_share > 0.80,
    }


def run_quality_checks(
    df: DataFrame,
    key_columns: list[str],
    completeness_columns: list[str] | None = None,
    validity_rules: dict | None = None,
    consistency_invariants: dict | None = None,
    outlier_columns: list[str] | None = None,
    approx: bool = False,
) -> QualityReport:
    """The composite V10 gate: weighted score over the five reports, in
    exactly two actions (module docstring). approx=True selects the
    fixed-memory sketch statistics for profiling at scales where exact
    percentiles would shuffle the column."""
    report = QualityReport()
    report.details = _reports(
        df,
        completeness_columns=completeness_columns or df.columns,
        key_columns=key_columns,
        rules=validity_rules or {},
        invariants=consistency_invariants or {},
        outlier_columns=outlier_columns or [],
        approx=approx,
    )
    for k in WEIGHTS:
        report.scores[k] = report.details[k].get("score", 1.0)
    return report
