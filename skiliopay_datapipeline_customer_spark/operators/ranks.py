"""Scale-safe exact global ranking and quantile bucketing.

The parity-exact forms (`functions.churn_features.quantile_bucket`,
`queries.windows.rfm_quintiles`) use `row_number`/`ntile` over a global
`Window.orderBy(...)` with no partitioning — Spark funnels the whole table
through ONE task. That replicates the reference's pandas semantics
(src/processing/feature_engineering.py:89-98 ranks the full frame) and is
fine at fixture scale, but it is the first thing that dies at 100 TB.

This module is the distributed tier: exact global rank via EXPRESSION-
DERIVED range buckets. Boundary tuples over the order keys are sampled
ONCE (a deterministic top-K-by-hash job, model-sized result) and frozen
as literals; each row's bucket id `_pid` is then a pure lexicographic
CASE expression of its own key values. Per-bucket row numbers plus
broadcast prefix offsets give the exact global rank. No single task ever
sees more than one bucket; the only global structure is the per-bucket
count frame (#buckets rows).

Why expressions instead of `repartitionByRange` + `spark_partition_id()`
(the r1–r9 form): the physical partition id is only consistent between
the offsets branch and the window branch while BOTH hang off the SAME
range exchange. `repartitionByRange` samples its boundaries per
execution, so when the planner declines exchange reuse (measured r9 on
join-derived lineage at sf0.1: dsir deciles with tile sizes 430–559
where every tile is exactly 500) each branch keys `_pid` against a
different partition population — wrong results that only appear at
scale. r9's stopgap was `localCheckpoint` pinning, which doubles the
rank pass's I/O at 100 TB and runs eager full-frame jobs at DataFrame-
construction time. With `_pid` computed from frozen literals, the two
branches agree BY CONSTRUCTION: exchange reuse is a performance
optimization here, never a correctness dependency, and the only eager
work is one column-pruned top-K sample job (the same kind of sampling
pass `repartitionByRange` itself runs internally — ours is just
collected once and frozen).

Correctness never depends on boundary QUALITY: `_pid` only has to be
monotone w.r.t. the total order (all rows of bucket i precede bucket
i+1), which the lexicographic comparison guarantees for ANY boundary
set. Boundary quality only affects balance — and because boundaries are
sampled over ALL order keys (including the unique tiebreak), buckets
stay balanced even when the leading key is low-cardinality or skewed.
"""

from __future__ import annotations

import functools
import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from .sqltext import LITERAL_TYPES, sql_literal

# ---------------------------------------------------------------------------
# Order specs: [(column-or-name, "asc"|"desc"), ...]; a bare column/name
# means ascending. Columns must be plain expressions — pass the direction
# in the tuple, NOT via Column.asc()/.desc() (a SortOrder can't be
# projected for boundary sampling).
# ---------------------------------------------------------------------------


def _normalize_order_spec(order_spec) -> list[tuple]:
    norm = []
    for entry in order_spec:
        if isinstance(entry, tuple):
            col, direction = entry
            d = str(direction).lower()
            if d in ("asc", "ascending"):
                asc = True
            elif d in ("desc", "descending"):
                asc = False
            else:
                raise ValueError(f"order direction must be asc/desc, got {direction!r}")
        else:
            col, asc = entry, True
        if isinstance(col, str):
            col = F.col(col)
        s = str(col)
        if " ASC NULLS" in s or " DESC NULLS" in s:
            raise TypeError(
                "order_spec entries must be plain columns or (col, 'asc'|'desc') "
                f"tuples, not Column.asc()/.desc() sort orders: {s}"
            )
        norm.append((col, asc))
    return norm


def _sort_cols(norm):
    return [c.asc() if asc else c.desc() for c, asc in norm]


def _cmp_vals(a, b, asc: bool) -> int:
    """Driver-side comparison matching Spark's sort semantics: asc puts
    NULL first and NaN last; desc reverses (NaN first, NULL last)."""

    def cls(v):
        if v is None:
            return 0
        if isinstance(v, float) and v != v:  # NaN
            return 2
        return 1

    ca, cb = cls(a), cls(b)
    if ca != cb:
        r = -1 if ca < cb else 1
    elif ca != 1:
        r = 0
    elif a < b:
        r = -1
    elif a > b:
        r = 1
    else:
        r = 0
    return r if asc else -r


def _cmp_tuples(norm):
    def cmp_t(x, y):
        for (_, asc), a, b in zip(norm, x, y):
            r = _cmp_vals(a, b, asc)
            if r:
                return r
        return 0

    return cmp_t


# (logical-plan semanticHash, spec, nparts) → (boundaries, key types).
# SAFE BY CONSTRUCTION: boundaries only decide bucket BALANCE — any
# boundary set yields exact ranks (monotonicity is data-independent), so
# a stale or even colliding cache entry can never produce a wrong result,
# only a less even split. The cache exists to amortize the per-call
# sample job and schema read: repeated identical rank calls (bench warm
# runs, a driver re-running a query, iterative sessions) skip straight to
# the lazy plan.
_BOUNDARY_CACHE: dict = {}
_BOUNDARY_CACHE_MAX = 256


def _sample_keys(df: DataFrame, norm) -> tuple[DataFrame, list]:
    """The order keys as `__bk{i}` columns in the domain boundaries are
    compared in, plus each key's Spark type (one analysis, no job).

    LTZ timestamp keys are projected as epoch micros (`unix_micros`):
    PySpark collects them as naive local datetimes, which drop the DST
    fold; micros order identically and render exactly
    (:func:`sqltext.sql_literal`). Any key type without an exact literal
    raises TypeError here, before any job runs."""
    keyed = df.select(*[c.alias(f"__bk{i}") for i, (c, _) in enumerate(norm)])
    types = [f.dataType for f in keyed.schema.fields]
    for (c, _), t in zip(norm, types):
        if not isinstance(t, LITERAL_TYPES):
            raise TypeError(
                f"rank key {c} has type {t.simpleString()}, which has no "
                "exact SQL literal"
            )
    sample = [
        F.unix_micros(f"__bk{i}").alias(f"__bk{i}")
        if isinstance(t, TimestampType)
        else f"__bk{i}"
        for i, t in enumerate(types)
    ]
    return keyed.select(*sample), types


def _collect_boundaries(df: DataFrame, norm, nparts: int) -> tuple[list[tuple], list]:
    """Sample key tuples with ONE deterministic top-K-by-hash job
    (TakeOrderedAndProject — per-partition top-K then a driver merge, no
    full sort), sort them under the spec order, and return ≤ nparts-1
    evenly spaced, deduplicated boundary tuples together with the key
    types. Model-sized: K = max(1024, 32·nparts) rows of key columns
    only. Results memoize on (plan semanticHash, spec, nparts) — see
    `_BOUNDARY_CACHE`."""
    cache_key = None
    try:  # classic PySpark only; Connect lacks _jdf — just skip the memo
        cache_key = (
            df._jdf.queryExecution().logical().semanticHash(),
            tuple((str(c), asc) for c, asc in norm),
            nparts,
        )
    except Exception:
        pass
    if cache_key is not None and cache_key in _BOUNDARY_CACHE:
        return _BOUNDARY_CACHE[cache_key]
    keys, types = _sample_keys(df, norm)
    k = max(1024, 32 * nparts)
    rows = (
        keys.orderBy(F.xxhash64(*[f"__bk{i}" for i in range(len(norm))]))
        .limit(k)
        .collect()
    )
    cmp_t = _cmp_tuples(norm)
    tuples = sorted((tuple(r) for r in rows), key=functools.cmp_to_key(cmp_t))
    m = len(tuples)
    bnds: list[tuple] = []
    for i in range(1, nparts):
        idx = (i * m) // nparts
        if idx <= 0 or idx >= m:
            continue
        t = tuples[idx]
        if bnds and cmp_t(bnds[-1], t) == 0:
            continue
        bnds.append(t)
    if cache_key is not None:
        # FIFO eviction (insertion-ordered dict), not all-or-nothing
        # clear: at the cap, dropping ONE oldest entry costs one re-sample
        # for that one plan instead of re-sampling every live plan. Any
        # eviction policy is correctness-neutral — see the cache contract
        # above (boundaries affect balance, never rank exactness; the
        # pytest pins a mid-session clear to identical results).
        while len(_BOUNDARY_CACHE) >= _BOUNDARY_CACHE_MAX:
            _BOUNDARY_CACHE.pop(next(iter(_BOUNDARY_CACHE)))
        _BOUNDARY_CACHE[cache_key] = (bnds, types)
    return bnds, types


def _bucket_pid_sql(names: list[str], norm, bnds, types) -> str:
    """SQL text of the bucket id over pre-projected key columns
    (``names[i]`` aliases ``norm[i]``'s expression, of Spark type
    ``types[i]``), parsed JVM-side in ONE py4j round trip.

    Bucket id = number of boundary tuples the row is strictly after,
    computed as a BINARY when-tree over the sorted boundary list instead
    of a linear sum of all m strictly-after tests. Valid because the
    boundaries are sorted and deduplicated under the spec's total order
    and strictly-after is that order's strict comparison (null/NaN-safe,
    matching `_cmp_vals`), so transitivity gives: after(bnds[mid]) ⇒
    after(bnds[i]) for all i ≤ mid — the count is exactly a
    binary-searchable threshold. Monotone w.r.t. the total order for ANY
    boundary set, so rank exactness never depends on the sample; balance
    does. Pinned against the pure-Python count by
    tests/test_scale_guards.py::test_bucket_pid_sql_equals_python_count
    and against an `F.lit` Column oracle by
    test_bucket_pid_tree_equals_linear_count and
    test_bucket_pid_sql_equals_column_tree.

    Measured r12 vs the linear sum (31 two-key boundaries, 6M rows,
    identical outputs): first execution 4.32 s → 1.07 s (janino/C2
    compile of the ~1000-term sum was the bulk of a one-shot session's
    rank cost) and warm floor 0.489 s → 0.242 s (log m instead of m
    lexicographic tests per row). The literal-array + filter() HOF form
    was measured and REJECTED: small codegen but interpreted eval, floor
    2.33 s. SQL text instead of Column builders (r13): ~15 py4j round
    trips per tree node (~500 for the 31-boundary rfm tree) cost ~0.3 s
    of every rank-family query's construction."""

    def strictly_after(boundary: tuple) -> str:
        after = "FALSE"
        eq = "TRUE"
        for name, (_, asc), t, b in zip(names, norm, types, boundary):
            if b is None:
                # asc: NULL sorts first → any non-null is after it; desc:
                # NULL sorts last → nothing is strictly after it
                ak = f"({name} IS NOT NULL)" if asc else "FALSE"
                ek = f"({name} IS NULL)"
            else:
                lit = sql_literal(b, t)
                # asc: NULL col → comparison is NULL → not after (NULL
                # sorts first); desc: NULL col sorts last → after
                op, dflt = (">", "FALSE") if asc else ("<", "TRUE")
                ak = f"coalesce({name} {op} {lit}, {dflt})"
                ek = f"coalesce({name} = {lit}, FALSE)"
            after = f"({after} OR ({eq} AND {ak}))"
            eq = f"({eq} AND {ek})"
        return after

    conds = [strictly_after(b) for b in bnds]

    def build(lo: int, hi: int) -> str:
        # pid for rows whose boundary count is known to lie in [lo, hi]
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN {conds[mid]} THEN {build(mid + 1, hi)} "
            f"ELSE {build(lo, mid)} END)"
        )

    return build(0, len(bnds))


def _range_bucketed(df: DataFrame, order_spec, num_partitions: int | None):
    """Shared first pass: `_pid` from frozen boundary literals, then ONE
    explicit hash exchange on `_pid` for the WINDOW branch (per-bucket
    row_number/sum needs co-location). Returns (bucketed frame — `_pid`
    attached but NOT repartitioned, parts — the repartitioned window
    input, sort columns).

    The offsets branches aggregate the UNREPARTITIONED `bucketed` frame:
    a groupBy(_pid) needs no forced exchange — partial aggregation
    reduces map-side to #buckets rows before its own tiny shuffle,
    whereas hanging it off `parts` forced the full repartition exchange
    into every offsets subtree (r11: column pruning had specialized each
    subtree's copy of that exchange, so ReuseExchange never applied and
    the bench paid the shuffle + a giant-`_pid`-expression codegen per
    branch). `_pid` is pure data (frozen literals), so the branches agree
    by construction wherever they compute it."""
    norm = _normalize_order_spec(order_spec)
    nparts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    bnds, types = _collect_boundaries(df, norm, nparts)
    # project the key expressions once under temp names the caller's
    # columns don't use, parse the whole when-tree JVM-side, drop the
    # temps (the projection collapses — `bucketed` keeps the caller's
    # schema + `_pid`)
    taken = {c.lower() for c in df.columns}  # Spark resolves case-insensitively
    free = (n for n in map("__rk{}".format, itertools.count()) if n not in taken)
    names = list(itertools.islice(free, len(norm)))
    keyed = df.withColumns({name: c for name, (c, _) in zip(names, norm)})
    pid_sql = _bucket_pid_sql(names, norm, bnds, types)
    bucketed = keyed.withColumn("_pid", F.expr(pid_sql)).drop(*names)
    parts = bucketed.repartition(max(1, len(bnds) + 1), "_pid")
    return bucketed, parts, _sort_cols(norm)


def _prefix_offsets(parts: DataFrame, agg_expr, pid_col: str = "_pid") -> DataFrame:
    """Exclusive prefix offsets per bucket as a broadcast-ready
    #buckets-row frame.

    The running sum is a TRIANGULAR SELF-JOIN over the metadata-sized
    aggregate frame (one row per bucket): offset(p) = Σ agg(p') for
    p' < p. Quadratic in #buckets — P²/2 comparisons is microscopic for
    any real P — and entirely window-free, so Spark's 'No Partition Defined
    for Window' WARN (which we grep bench logs for to catch REAL single-task
    windows; a constant partitionBy would be stripped by Spark 4's
    EliminateWindowPartitions rule and still warn) never fires."""
    return _prefix_offsets_multi(parts, {"": agg_expr}, pid_col).withColumnRenamed(
        "_offset_", "_offset"
    )


def global_rank_distributed(
    df: DataFrame,
    order_spec: list,
    rank_col: str = "_rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global rank under a TOTAL order, no single-task sort.

    Plan shape: boundary tuples sampled once and frozen as literals →
    `_pid` as a pure lexicographic expression → one hash exchange on
    `_pid` → per-bucket `row_number` (parallel windows) → broadcast join
    of cumulative per-bucket counts → rank = prefix offset + local row
    number. See the module docstring for why `_pid` is data, not
    `spark_partition_id()` (the r9 exchange-reuse divergence class).

    ``order_spec`` must define a total order (include a unique tiebreak
    column) or ranks within ties are bucket-placement-dependent. Entries
    are plain columns/names (ascending) or ``(col, 'asc'|'desc')`` tuples.
    """
    from pyspark.sql import Window

    bucketed, parts, sort_cols = _range_bucketed(df, order_spec, num_partitions)
    # one value per bucket — metadata-sized, prefix-summed in-plan; the
    # aggregate hangs off the UNREPARTITIONED frame (map-side partial agg,
    # no forced full shuffle in this branch)
    offsets = _prefix_offsets(bucketed, F.count(F.lit(1)))
    local_w = Window.partitionBy("_pid").orderBy(*sort_cols)
    return (
        parts.withColumn("_local", F.row_number().over(local_w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(
            rank_col,
            (F.coalesce(F.col("_offset"), F.lit(0)) + F.col("_local")).cast("long"),
        )
        .drop("_pid", "_local", "_offset")
    )


def global_cumsum_distributed(
    df: DataFrame,
    order_spec: list,
    value_col: str,
    out: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive running sum of ``value_col`` under a TOTAL order —
    same two-pass shape as :func:`global_rank_distributed`, with per-
    bucket VALUE sums as the broadcast prefix offsets instead of counts.
    """
    return global_cumsums_distributed(
        df, order_spec, {value_col: out}, num_partitions=num_partitions
    )


def global_cumsums_distributed(
    df: DataFrame,
    order_spec: list,
    cols: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive running sums of SEVERAL value columns under one TOTAL
    order, in ONE bucketed pass — ``cols`` maps value column → output column.

    One pass for k cumsums is cheaper than k nested calls (k sample jobs
    and k exchanges), and with `_pid` frozen in boundary literals the
    offsets/window branches agree by construction — the r9 class where a
    planner declining exchange reuse keyed offsets against different range
    boundaries than the local sums (measured: session-dependent wrong KS
    sup-distance from nested single-column calls) cannot exist in this
    form, nested or not.
    """
    from pyspark.sql import Window

    _, parts, sort_cols = _range_bucketed(df, order_spec, num_partitions)
    # per-bucket value sums, prefix-accumulated in bucket order — the
    # same left-to-right add order the windowed form uses per bucket.
    # Unlike the rank/quantile tiers (whose offsets are order-free COUNTS
    # aggregated pre-shuffle), value sums stay on `parts`: float sums are
    # accumulation-order-sensitive and this is the r10-hash-verified form.
    offsets = _prefix_offsets_multi(parts, {o: F.sum(vc) for vc, o in cols.items()})
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    result = parts
    for vc, o in cols.items():
        result = result.withColumn(f"_local_{o}", F.sum(vc).over(local_w))
    result = result.join(F.broadcast(offsets), "_pid")
    drop = ["_pid"]
    for vc, o in cols.items():
        # sum-of-sums has the same dtype as the per-bucket sum
        zero = F.lit(0).cast(offsets.schema[f"_offset_{o}"].dataType)
        result = result.withColumn(
            o,
            F.coalesce(F.col(f"_offset_{o}"), zero) + F.col(f"_local_{o}"),
        )
        drop += [f"_local_{o}", f"_offset_{o}"]
    return result.drop(*drop)


def _prefix_offsets_multi(
    parts: DataFrame, agg_exprs: dict, pid_col: str = "_pid"
) -> DataFrame:
    """:func:`_prefix_offsets` for several aggregates at once — one
    triangular self-join over the metadata-sized per-bucket frame yields
    ``_offset_<name>`` per entry."""
    sizes = parts.groupBy(pid_col).agg(
        *[e.alias(f"_pagg_{n}") for n, e in agg_exprs.items()]
    )
    prior = sizes.select(
        F.col(pid_col).alias("_prior_pid"),
        *[F.col(f"_pagg_{n}").alias(f"_prior_{n}") for n in agg_exprs],
    )
    return (
        sizes.join(prior, F.col("_prior_pid") < F.col(pid_col), "left")
        .groupBy(pid_col)
        .agg(
            *[
                F.sum(f"_prior_{n}").alias(f"_offset_{n}")
                for n in agg_exprs
            ]
        )
    )


def pack_by_token_budget(
    df: DataFrame,
    budget: int,
    token_col: str,
    order_spec: list,
    pack_col: str = "pack_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Sequence packing for training-data assembly: assign each document to
    a fixed-token-budget pack by its cumulative-token START OFFSET under a
    declared total order — ``pack = floor((cumsum - tokens) / budget)``.

    Offset-based assignment (not greedy bin packing): a document straddling
    a budget boundary stays in the pack its offset starts in, so packs can
    overflow by at most one document — the deterministic, shuffle-once form
    (greedy first-fit resets a running remainder per pack, which is a
    sequential dependence no partition-parallel plan can express; trainers
    that need hard caps truncate the straddler downstream). Entirely
    SQL-expressible → oracle-checkable.
    """
    cum = global_cumsum_distributed(
        df, order_spec, token_col, out="_cs", num_partitions=num_partitions
    )
    pack = F.floor((F.col("_cs") - F.col(token_col)) / F.lit(budget)).cast("long")
    return cum.withColumn(pack_col, pack).drop("_cs")


def quantile_bucket_distributed(
    df: DataFrame,
    col: str,
    labels: list[int],
    ascending: bool,
    q: int = 5,
    tiebreak: str = "user_id",
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Two-pass scale-safe twin of `quantile_bucket` (rank+qcut semantics,
    feature_engineering.py:89-98): pass 1 computes the exact global rank via
    `global_rank_distributed`; pass 2 buckets each rank against the linear-
    interpolation quantile edges of ranks 1..n,

        edge_k = 1 + (n - 1) * (k / q),   k = 1 .. q-1   (right-closed)

    — the same edges pandas' ``Series(1..n).quantile(linspace(0,1,q+1))``
    interpolates. Edges are scalar IEEE expressions, so an ANSI-SQL oracle
    evaluating the identical formula is bit-compatible.

    Keeps `quantile_bucket`'s degenerate-cardinality guard: fewer than 2
    distinct values → constant fill label; q clamps to the distinct count.

    Single-action plan: n / countDistinct ride along as a broadcast 1-row
    cross join instead of a separate eager ``.first()`` job, so one action
    computes stats + rank + buckets (the eager form cost an extra full scan
    and job per call — measured 3× on the sf0.1 bench). The stats scan
    stays a PLAIN `df.agg` with no `_pid` lineage: r11 measured the
    "share the rank's exchange" alternative (stats over the bucketed
    frame) strictly worse — column pruning specializes each subtree's
    copy of the exchange so ReuseExchange never applies, and the branch
    pays an extra repartition plus one more codegen of the ~1000-term
    `_pid` expression (cold 7.9 s vs 2.5 s at sf0.1).
    """
    out = out or f"{col}_q"
    order = [
        (F.col(col), "asc" if ascending else "desc"),
        (F.col(tiebreak), "asc"),
    ]
    # 1-row stats frame, joined lazily — no separate driver job
    stats = df.agg(
        F.countDistinct(col).alias("_u"),
        F.count(F.lit(1)).alias("_n"),
    )
    ranked = global_rank_distributed(
        df, order, rank_col="_rank", num_partitions=num_partitions
    ).crossJoin(F.broadcast(stats))
    # effective q = min(q, distinct count), evaluated in-plan; the k-th edge
    # term only fires while k < eq, so extra CASE terms vanish for low-
    # cardinality columns. Edge arithmetic (1.0 + (n-1) * (k/eq), doubles)
    # matches the oracle's literal form bit-for-bit.
    eq = F.least(F.lit(q), F.col("_u")).cast("double")
    n1 = (F.col("_n") - F.lit(1)).cast("double")
    bucket = F.lit(1)
    for k in range(1, q):
        edge = F.lit(1.0) + n1 * (F.lit(float(k)) / eq)
        bucket = bucket + (
            (F.lit(k) < F.col("_u")) & (F.col("_rank") > edge)
        ).cast("int")
    # element_at(full labels, bucket) == element_at(labels[:eq], bucket)
    # because bucket <= eq and the slice is a prefix
    label_arr = F.array(*[F.lit(x) for x in labels])
    fill = labels[0] if ascending else labels[-1]
    return ranked.withColumn(
        out,
        F.when(F.col("_u") < 2, F.lit(fill)).otherwise(
            F.element_at(label_arr, bucket)
        ),
    ).drop("_rank", "_u", "_n")


def ntile_distributed(
    df: DataFrame,
    order_spec: list,
    q: int,
    out: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL ``NTILE(q)`` with no single-task global window.

    Pass 1: bucketed exact global rank (:func:`global_rank_distributed`).
    Pass 2: the closed-form NTILE bucket from (rank, n) — SQL semantics
    put the remainder rows in the FIRST buckets (sizes differ by at most
    one, larger first), which is NOT the Bresenham spread of
    ``floor((r-1)·q/n)+1``; with a = n div q, b = n mod q:

        r ≤ b·(a+1)  →  bucket = floor((r−1)/(a+1)) + 1
        otherwise    →  bucket = b + floor((r − b·(a+1) − 1)/a) + 1

    Matches Spark's and DuckDB's ntile for EVERY (n, q), including q > n
    (then a = 0, b = n, and every row takes the first branch with
    bucket = r) — property-tested against the window form across the
    (n, q) grid in ``tests/test_selection.py``. ``order_spec`` must be a
    total order (unique tiebreak), same contract as the rank. Rank `_pid`
    comes from frozen boundary literals, so the join-derived lineage that
    broke the r9 range-exchange form (dsir deciles at sf0.1) has no
    divergence channel here."""
    ranked = global_rank_distributed(
        df, order_spec, rank_col="_r", num_partitions=num_partitions
    )
    stats = ranked.agg(F.count(F.lit(1)).alias("_n"))
    ranked = ranked.crossJoin(F.broadcast(stats))
    bucket = _ntile_bucket(F.col("_r"), F.col("_n"), q)
    return ranked.withColumn(out, bucket.cast("int")).drop("_r", "_n")


def _ntile_bucket(r, n, q: int):
    """Closed-form SQL NTILE bucket from (1-based rank r, group size n)."""
    a = F.floor(n / q)
    b = n % q
    head = b * (a + 1)
    return F.when(r <= head, F.floor((r - 1) / (a + 1)) + 1).otherwise(
        b + F.floor((r - head - 1) / a) + 1
    )


def grouped_ntile_distributed(
    df: DataFrame,
    group_cols: list[str],
    order_spec: list,
    q: int,
    out: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """``NTILE(q) OVER (PARTITION BY group ORDER BY ...)`` with no
    single-task window even when ONE group dominates the table (the 60 %
    language of a 100 TB corpus) — the shape the per-lang CCNet split
    needs at scale.

    One bucketed rank pass ordered by (group, order...): groups are then
    CONTIGUOUS in the global rank, so the within-group rank is
    ``global_rank − min(global_rank of the group) + 1`` and the bucket is
    the same closed-form NTILE arithmetic on (group rank, group size).
    Group stats are a |groups|-row broadcast. A dominant group spans many
    boundary buckets (boundaries are sampled over group AND order keys) —
    no task ever holds a whole group.
    """
    group_order = [(F.col(c), "asc") for c in group_cols] + list(order_spec)
    ranked = global_rank_distributed(
        df, group_order, rank_col="_r", num_partitions=num_partitions
    )
    stats = ranked.groupBy(*group_cols).agg(
        F.min("_r").alias("_base"), F.count(F.lit(1)).alias("_n")
    )
    joined = ranked.join(F.broadcast(stats), group_cols)
    rg = F.col("_r") - F.col("_base") + 1
    bucket = _ntile_bucket(rg, F.col("_n"), q)
    return joined.withColumn(out, bucket.cast("int")).drop("_r", "_base", "_n")
