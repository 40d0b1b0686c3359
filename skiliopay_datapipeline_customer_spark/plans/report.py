"""Physical-plan digest — the engine's explain-driven self-audit tool.

`SCALE.md` commits every operator family to a plan shape (broadcast the
dims, one shuffle per key, no cartesian products, filters at the scan).
`plan_digest` turns `.explain("formatted")` into a structured dict so those
commitments are CHECKABLE — tests assert on counts instead of grepping
explain text ad hoc, and a pipeline can log the digest next to its row
counts (the plan-shape twin of `observe` metrics).

Driver-side only: reads the formatted explain string, never executes the
plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# physical operators counted by prefix match on the plan's node lines
_NODES = {
    "scans": r"Scan parquet|BatchScan|Scan csv|Scan json",
    "exchanges": r"Exchange ",
    "reused_exchanges": r"ReusedExchange",
    "broadcast_exchanges": r"BroadcastExchange",
    "broadcast_joins": r"BroadcastHashJoin|BroadcastNestedLoopJoin",
    "sort_merge_joins": r"SortMergeJoin",
    "shuffled_hash_joins": r"ShuffledHashJoin",
    "nested_loop_joins": r"BroadcastNestedLoopJoin|CartesianProduct",
    "hash_aggregates": r"HashAggregate|ObjectHashAggregate",
    "sort_aggregates": r"SortAggregate",
    "windows": r"\bWindow\b|WindowExec|WindowGroupLimit",
    "sorts": r"\bSort\b",
    "python_evals": r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|FlatMapGroupsInArrow",
}


def _strip_dpp_expressions(filters: str) -> str:
    """Remove every ``dynamicpruningexpression(...)`` entry (balanced-paren —
    the subquery render nests parens, so a regex stops too early) from a
    PartitionFilters list. DPP entries are runtime pruning Spark inserts on
    its own; only caller-written partition predicates should count."""
    marker = "dynamicpruningexpression("
    while True:
        j = filters.find(marker)
        if j < 0:
            return filters
        depth, k = 1, j + len(marker)
        while k < len(filters) and depth:
            if filters[k] == "(":
                depth += 1
            elif filters[k] == ")":
                depth -= 1
            k += 1
        filters = filters[:j] + filters[k:]


def _bracket_payloads(text: str, label: str) -> list[str]:
    """All ``label: [ ... ]`` payloads from explain text, captured with
    BRACKET BALANCING — a plain ``\\[([^\\]]*)\\]`` regex stops at the first
    ``]``, and DPP entries render nested brackets
    (``dynamicpruningexpression(... [id=#12, ...])``), which would truncate
    a caller-written predicate listed after the DPP entry out of the
    captured group."""
    out: list[str] = []
    marker = f"{label}: ["
    i = text.find(marker)
    while i >= 0:
        depth, j = 1, i + len(marker)
        while j < len(text) and depth:
            if text[j] == "[":
                depth += 1
            elif text[j] == "]":
                depth -= 1
            j += 1
        out.append(text[i + len(marker) : j - 1])
        i = text.find(marker, j)
    return out


def _has_caller_partition_filter(filters: str) -> bool:
    """True when a PartitionFilters list holds a caller-written predicate —
    after dropping the implicit isnotnull entries Spark adds alongside any
    real predicate and the dynamicpruningexpression(...) / dynamicpruning#N
    entries dynamic partition pruning inserts at runtime."""
    stripped = _strip_dpp_expressions(filters)
    return bool(
        re.sub(r"isnotnull\([^)]*\)|dynamicpruning#\d+|[,\s]", "", stripped)
    )


def plan_digest(df: DataFrame) -> dict:
    """Structured summary of the optimized physical plan.

    Returns operator counts (see ``_NODES``), `whole_stage_codegen` span
    count, `pushed_filters` (how many scans report a non-empty
    PushedFilters), and boolean smells: `has_cartesian` (a CartesianProduct
    node survived planning — a broadcast nested-loop join, such as a
    one-row stats frame crossed back onto its input, counts only under
    `nested_loop_joins`) and `single_partition_window` (a window with no
    PARTITION BY — the funnel-everything-through-one-task shape the
    distributed rank forms exist to avoid).
    """
    text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    out: dict = {
        name: len(re.findall(pat, text)) for name, pat in _NODES.items()
    }
    # codegen spans (`*(N)` prefixes) never annotate an AQE plan before
    # execution, so count them on a non-adaptive render of the SAME logical
    # plan: re-planning a clone under adaptive=false shows exactly the
    # fused pipelines codegen will build
    ss = df.sparkSession
    prev = ss.conf.get("spark.sql.adaptive.enabled")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        clone = df.select("*")
        simple = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            clone._jdf.queryExecution(), "simple"
        )
    finally:
        ss.conf.set("spark.sql.adaptive.enabled", prev)
    out["whole_stage_codegen"] = len(set(re.findall(r"\*\((\d+)\)", simple)))
    out["pushed_filters"] = len(
        [m for m in _bracket_payloads(text, "PushedFilters") if m.strip()]
    )
    # directory-pruning twin of pushed_filters: scans whose PartitionFilters
    # list is non-empty (partition-column predicates that skip whole
    # directories instead of reading + filtering). Ignores the implicit
    # isnotnull entries Spark adds alongside a real predicate and DPP
    # entries — an isnotnull/DPP-only list means no caller-written pruning.
    out["partition_filters"] = len(
        [
            m
            for m in _bracket_payloads(text, "PartitionFilters")
            if _has_caller_partition_filter(m)
        ]
    )
    out["has_cartesian"] = "CartesianProduct" in text
    # formatted explain renders an un-partitioned window's spec starting
    # directly with the ORDER BY list: "Arguments: [col ASC ..." with no
    # partition expressions before it is the single-task smell; partitioned
    # windows show "partitionBy" in the argument list (simple mode) or the
    # partition expressions first. Detect via the Window node detail lines.
    win_args = re.findall(
        r"\(\d+\) Window(?:GroupLimit)?\s*(?:\[codegen[^\]]*\])?\n((?:[^\n]*\n){1,4})",
        text,
    )
    # two unpartitioned shapes: ORDER BY first (spec opens with "col ASC/
    # DESC") or no ORDER BY at all (spec opens directly with
    # specifiedwindowframe) — both are the single-task smell
    out["single_partition_window"] = any(
        "windowspecdefinition(" in blk
        and re.search(
            r"windowspecdefinition\((?:[^,)]+ (?:ASC|DESC)|specifiedwindowframe)",
            blk,
        )
        for blk in win_args
    )
    return out
