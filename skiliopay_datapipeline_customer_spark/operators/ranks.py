"""Scale-safe exact global ranking and quantile bucketing.

The parity-exact forms (`functions.churn_features.quantile_bucket_parity`
and `queries.windows.rfm_quintiles_parity`, both tests-only) use
`row_number`/`ntile` over a global `Window.orderBy(...)` with no
partitioning — Spark funnels the whole table through ONE task. That
replicates the reference's pandas semantics
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

One exception, by design: when the sample comes back shorter than K it
holds EVERY row, and `quantile_buckets_distributed` takes its exact
small-input plan — qcut edges computed on the driver from the sample and
frozen as key tuples, one projection, no rank pass (the daily job's
~150-customer gold layer, where the rank pipeline was all framework
overhead). Those edges are exact only for the rows the frame held when
the sample ran, so that plan is never memoized. Inputs of K rows or more
take the ranked plan unchanged.
"""

from __future__ import annotations

import functools
import itertools
import math

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


# (logical-plan semanticHash, specs, nparts) → [(boundaries, key types)]
# per spec. SAFE BY CONSTRUCTION: boundaries only decide bucket BALANCE —
# any boundary set yields exact ranks (monotonicity is data-independent),
# so a stale or even colliding cache entry can never produce a wrong
# result, only a less even split. The cache exists to amortize the
# per-call sample job and schema read: repeated identical rank calls
# (bench warm runs, a driver re-running a query, iterative sessions) skip
# straight to the lazy plan. Only boundaries are stored, never the exact
# edges of the small-input qcut plan: those depend on the sample holding
# every row of the frame as it was, so a stale entry WOULD change results.
# A hit therefore always takes the ranked plan, which is exact for any
# boundaries; a small input re-samples on every call.
_BOUNDARY_CACHE: dict = {}
_BOUNDARY_CACHE_MAX = 256


def _fresh(taken: set, stem: str) -> str:
    """The first of ``stem``, ``stem_1``, ``stem_2``, … whose lower-cased
    form is not in ``taken`` (Spark resolves column names case-
    insensitively); the pick is added to ``taken``. Every temp column of
    this module is named this way, so a caller column of the same name is
    never replaced or dropped."""
    for i in itertools.count():
        name = stem if i == 0 else f"{stem}_{i}"
        if name.lower() not in taken:
            taken.add(name.lower())
            return name


def _key_union(norms) -> tuple[list, list[list[int]]]:
    """The distinct key expressions of several order specs, in first-seen
    order, and per spec the positions of its keys in that list."""
    exprs: list = []
    pos: dict[str, int] = {}
    idx = []
    for norm in norms:
        ix = []
        for c, _ in norm:
            s = str(c)
            if s not in pos:
                pos[s] = len(exprs)
                exprs.append(c)
            ix.append(pos[s])
        idx.append(ix)
    return exprs, idx


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


def _sample_size(nparts: int) -> int:
    """K, the row count of the boundary sample: model-sized, never data-
    sized. A sample shorter than K holds every row of its frame."""
    return max(1024, 32 * nparts)


def _cache_key(df: DataFrame, norms, nparts: int):
    """The `_BOUNDARY_CACHE` key of a boundary request, or None where the
    plan has no semanticHash (Spark Connect lacks _jdf: no memo)."""
    try:
        return (
            df._jdf.queryExecution().logical().semanticHash(),
            tuple(tuple((str(c), asc) for c, asc in norm) for norm in norms),
            nparts,
        )
    except Exception:
        return None


def _sample(df: DataFrame, norms, nparts: int) -> tuple[list[tuple], list]:
    """ONE deterministic top-K-by-hash sample job over the union of the
    specs' key columns (TakeOrderedAndProject — per-partition top-K then a
    driver merge, no full sort): the sampled key tuples, in
    :func:`_key_union` order, and the key types. Fewer than
    ``_sample_size(nparts)`` tuples means the frame has no other rows.
    A build-time action (kept; SCALE.md, "Spark actions at build time"):
    the range boundaries are literals of the plan it feeds."""
    exprs, _ = _key_union(norms)
    keys, types = _sample_keys(df, [(c, True) for c in exprs])
    rows = keys.orderBy(F.xxhash64(*keys.columns)).limit(_sample_size(nparts))
    return [tuple(r) for r in rows.collect()], types


def _sorted_keys(rows: list[tuple], norm, ix: list[int]) -> list[tuple]:
    """One spec's key tuples (positions ``ix`` of each sampled row),
    sorted under the spec's order."""
    return sorted(
        (tuple(r[i] for i in ix) for r in rows),
        key=functools.cmp_to_key(_cmp_tuples(norm)),
    )


def _boundaries(rows: list[tuple], types: list, norms, nparts: int) -> list:
    """Per spec, ≤ nparts-1 evenly spaced, deduplicated boundary tuples of
    the sample under that spec's order, with the spec's key types."""
    _, idx = _key_union(norms)
    sampled = []
    for norm, ix in zip(norms, idx):
        cmp_t = _cmp_tuples(norm)
        tuples = _sorted_keys(rows, norm, ix)
        m = len(tuples)
        bnds: list[tuple] = []
        for i in range(1, nparts):
            idx_i = (i * m) // nparts
            if idx_i <= 0 or idx_i >= m:
                continue
            t = tuples[idx_i]
            if bnds and cmp_t(bnds[-1], t) == 0:
                continue
            bnds.append(t)
        sampled.append((bnds, [types[i] for i in ix]))
    return sampled


def _memoize(cache_key, sampled: list) -> list:
    """Store boundaries under ``cache_key`` (None: not stored)."""
    if cache_key is not None:
        # FIFO eviction (insertion-ordered dict), not all-or-nothing
        # clear: at the cap, dropping ONE oldest entry costs one re-sample
        # for that one plan instead of re-sampling every live plan. Any
        # eviction policy is correctness-neutral — see the cache contract
        # above (boundaries affect balance, never rank exactness; the
        # pytest pins a mid-session clear to identical results).
        while len(_BOUNDARY_CACHE) >= _BOUNDARY_CACHE_MAX:
            _BOUNDARY_CACHE.pop(next(iter(_BOUNDARY_CACHE)))
        _BOUNDARY_CACHE[cache_key] = sampled
    return sampled


def _collect_boundaries(df: DataFrame, norms, nparts: int) -> list[tuple[list, list]]:
    """Boundaries for several order specs (``norms``) over one frame, from
    ONE :func:`_sample` job: per spec ``(boundaries, key types)``.
    Results memoize on (plan semanticHash, every spec, nparts) — see
    `_BOUNDARY_CACHE`."""
    cache_key = _cache_key(df, norms, nparts)
    if cache_key in _BOUNDARY_CACHE:
        return _BOUNDARY_CACHE[cache_key]
    rows, types = _sample(df, norms, nparts)
    return _memoize(cache_key, _boundaries(rows, types, norms, nparts))


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


def _nparts(df: DataFrame, num_partitions: int | None) -> int:
    return num_partitions or df.sparkSession.sparkContext.defaultParallelism


def _bucketed(df: DataFrame, norms, sampled: list, taken: set):
    """Shared first pass: one bucket id column per order spec, all from
    the frozen boundary literals ``sampled`` (:func:`_collect_boundaries`
    of ``norms``) and all in ONE projection.
    Returns (frame — the caller's columns plus the bucket ids, bucket-id
    names, per spec its ids as (first id, count) — the ids of different
    specs are disjoint). Temp names come from :func:`_fresh` over
    ``taken``.

    The frame is NOT repartitioned: the window branches repartition it on
    their own bucket id (per-bucket row_number/sum needs co-location),
    while the count-offsets branch aggregates it as is — a groupBy needs
    no forced exchange, partial aggregation reduces map-side to #buckets
    rows before its own tiny shuffle, whereas hanging it off the
    repartitioned frame forced the full exchange into every offsets
    subtree (r11: column pruning had specialized each subtree's copy of
    that exchange, so ReuseExchange never applied and the bench paid the
    shuffle + a giant bucket-id codegen per branch). Bucket ids are pure
    data (frozen literals), so the branches agree by construction
    wherever they compute them."""
    # project the key expressions once under temp names, parse every
    # when-tree JVM-side, drop the temps (the projection collapses)
    exprs, idx = _key_union(norms)
    names = [_fresh(taken, f"__rk{i}") for i in range(len(exprs))]
    pids = [_fresh(taken, "_pid") for _ in norms]
    # spec k numbers its buckets from the sum of the earlier specs' bucket
    # counts, so the bucket ids of all specs are disjoint
    counts = [len(bnds) + 1 for bnds, _ in sampled]
    spans = list(zip(itertools.accumulate([0, *counts[:-1]]), counts))
    keyed = df.withColumns(dict(zip(names, exprs)))
    bucketed = keyed.withColumns(
        {
            pid: F.expr(
                f"{base} + {_bucket_pid_sql([names[i] for i in ix], norm, bnds, types)}"
            )
            for pid, (base, _), norm, ix, (bnds, types) in zip(
                pids, spans, norms, idx, sampled
            )
        }
    ).drop(*names)
    return bucketed, pids, spans


def _prefix_offsets(frame: DataFrame, pid_col: str, aggs: dict, spans) -> DataFrame:
    """Exclusive prefix offsets per bucket as a broadcast-ready #buckets-
    row frame of ``pid_col`` and one column per ``aggs`` entry (output
    column → the aggregate it offsets): offset(p) = Σ agg(p') over the
    buckets p' < p of p's span. ``spans`` lists each order spec's bucket
    ids as (first id, count).

    The bucket ids are known on the driver, so the running sum is a
    TRIANGULAR JOIN of a `range` of them against the metadata-sized
    per-bucket aggregate, and ``frame`` is aggregated once (a self-join
    of the aggregate runs the input twice: column pruning gives each side
    its own copy, so ReuseExchange does not apply). Quadratic in
    #buckets — P²/2 comparisons is microscopic for any real P — and
    entirely window-free, so Spark's 'No Partition Defined for Window'
    WARN (which we grep bench logs for to catch REAL single-task windows;
    a constant partitionBy would be stripped by Spark 4's
    EliminateWindowPartitions rule and still warn) never fires."""
    taken = {c.lower() for c in (pid_col, *aggs)}
    part = {o: _fresh(taken, "_pagg") for o in aggs}
    prior, lo = _fresh(taken, "_prior_pid"), _fresh(taken, "_lo")
    sizes = frame.groupBy(F.col(pid_col).alias(prior)).agg(
        *[e.alias(part[o]) for o, e in aggs.items()]
    )
    spark = frame.sparkSession
    ids = functools.reduce(
        DataFrame.unionAll,
        [
            spark.range(base, base + n, 1, 1).select(
                F.lit(base).alias(lo), F.col("id").cast("int").alias(pid_col)
            )
            for base, n in spans
        ],
    )
    before = (F.col(prior) < F.col(pid_col)) & (F.col(prior) >= F.col(lo))
    return (
        ids.join(F.broadcast(sizes), before, "left")
        .groupBy(pid_col)
        .agg(*[F.sum(part[o]).alias(o) for o in aggs])
    )


def _ranked(df: DataFrame, norms, rank_cols: list[str], sampled: list) -> DataFrame:
    """Exact 1-based global ranks under several TOTAL orders at once:
    ``rank_cols[k]`` ranks under ``norms[k]``, bucketed by the boundaries
    ``sampled``.

    Every side branch reads the INPUT frame, never an earlier spec's
    ranked output: one boundary sample job for all specs, every bucket id
    in one projection, and the per-bucket counts of every spec in ONE
    aggregate over the exploded bucket ids (disjoint across specs),
    prefix-summed by one triangular join. Only the windows chain: per
    spec, one repartition on its bucket id, the per-bucket `row_number`,
    and a broadcast join of the offsets — the same offsets frame for
    every spec, so its broadcast is built once and reused."""
    from pyspark.sql import Window

    taken = {c.lower() for c in (*df.columns, *rank_cols)}
    bucketed, pids, spans = _bucketed(df, norms, sampled, taken)
    local, opid, off = (_fresh(taken, s) for s in ("_local", "_opid", "_offset"))
    pairs = bucketed.select(F.explode(F.array(*pids)).alias(opid))
    offsets = _prefix_offsets(pairs, opid, {off: F.count(F.lit(1))}, spans)
    out = bucketed
    for norm, pid, (_, nb), rank in zip(norms, pids, spans, rank_cols):
        w = Window.partitionBy(pid).orderBy(*_sort_cols(norm))
        out = (
            out.repartition(nb, pid)
            .withColumn(local, F.row_number().over(w))
            .join(F.broadcast(offsets), F.col(pid) == F.col(opid))
            .withColumn(
                rank, (F.coalesce(F.col(off), F.lit(0)) + F.col(local)).cast("long")
            )
            .drop(local, opid, off)
        )
    return out.drop(*pids)


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
    norm = _normalize_order_spec(order_spec)
    sampled = _collect_boundaries(df, [norm], _nparts(df, num_partitions))
    return _ranked(df, [norm], [rank_col], sampled)


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

    norm = _normalize_order_spec(order_spec)
    taken = {c.lower() for c in (*df.columns, *cols.values())}
    sampled = _collect_boundaries(df, [norm], _nparts(df, num_partitions))
    bucketed, [pid], spans = _bucketed(df, [norm], sampled, taken)
    parts = bucketed.repartition(spans[0][1], pid)
    offs = {o: _fresh(taken, "_offset") for o in cols.values()}
    locs = {o: _fresh(taken, "_local") for o in cols.values()}
    # per-bucket value sums, prefix-accumulated in bucket order — the
    # same left-to-right add order the windowed form uses per bucket.
    # Unlike the rank/quantile tiers (whose offsets are order-free COUNTS
    # aggregated pre-shuffle), value sums stay on `parts`: float sums are
    # accumulation-order-sensitive and this is the r10-hash-verified form.
    offsets = _prefix_offsets(
        parts, pid, {offs[o]: F.sum(vc) for vc, o in cols.items()}, spans
    )
    local_w = (
        Window.partitionBy(pid)
        .orderBy(*_sort_cols(norm))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    result = parts.withColumns(
        {locs[o]: F.sum(vc).over(local_w) for vc, o in cols.items()}
    )
    result = result.join(F.broadcast(offsets), pid)
    for o in cols.values():
        # sum-of-sums has the same dtype as the per-bucket sum
        zero = F.lit(0).cast(offsets.schema[offs[o]].dataType)
        result = result.withColumn(o, F.coalesce(F.col(offs[o]), zero) + F.col(locs[o]))
    return result.drop(pid, *locs.values(), *offs.values())


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
    taken = {c.lower() for c in (*df.columns, pack_col)}
    cs = _fresh(taken, "_cs")
    cum = global_cumsum_distributed(
        df, order_spec, token_col, out=cs, num_partitions=num_partitions
    )
    pack = F.floor((F.col(cs) - F.col(token_col)) / F.lit(budget)).cast("long")
    return cum.withColumn(pack_col, pack).drop(cs)


def _qcut_fraction(k: int, q: int) -> float:
    """pandas' k-th qcut fraction as numpy receives it: ``linspace(0, 1,
    q + 1)[k]``, i.e. ``k * (1/q)``, round-tripped through percent
    (``Series.quantile`` hands ``qs * 100`` to ``np.percentile``, which
    divides by 100). For q = 3, k = 1 that is 0.33333333333333326."""
    return k * (1.0 / q) * 100.0 / 100.0


def _qcut_edge(n1, eq, k: int, q: int):
    """pandas' k-th qcut edge over the sorted ranks 1..n as a double Column,
    for the in-plan effective q ``eq`` (2..q; null when ``eq <= k``);
    ``n1`` is n - 1 as a double. Replays numpy's linear interpolation:
    virtual index ``v = n1 * frac``, ``i = floor(v)``, ``g = v - i``, then
    numpy's ``_lerp`` between ranks i+1 and i+2, which takes the upper form
    when ``g >= 0.5``. Same IEEE operations in the same order, so the same
    double."""
    frac = None
    for e in range(k + 1, q + 1):
        frac = (F.when if frac is None else frac.when)(
            eq == e, F.lit(_qcut_fraction(k, e))
        )
    v = n1 * frac
    i = F.floor(v)
    g = v - i
    return F.when(g >= 0.5, (i + 2) - (F.lit(1.0) - g)).otherwise((i + 1) + g)


def _qcut_edge_value(n: int, eq: int, k: int) -> float:
    """:func:`_qcut_edge` evaluated on the driver for a known n and
    effective q: the same IEEE operations in the same order (Spark's
    ``floor`` is a long, and long-double arithmetic widens the long
    exactly, as Python's int-float arithmetic does)."""
    v = float(n - 1) * _qcut_fraction(k, eq)
    i = math.floor(v)
    g = v - i
    return (i + 2) - (1.0 - g) if g >= 0.5 else (i + 1) + g


def _distinct_value(v):
    """``v`` as countDistinct sees it: NaN is one value (-0.0 == 0.0
    already holds in Python); binary keys are hashable bytes."""
    if isinstance(v, float) and v != v:
        return "NaN"
    return bytes(v) if isinstance(v, bytearray) else v


def _whole_sample_buckets(
    df: DataFrame, specs, norms, rows: list[tuple], types: list, q: int, taken: set
) -> DataFrame:
    """The small-input plan of :func:`quantile_buckets_distributed`:
    ``rows`` holds every row's keys (in :func:`_key_union` order), so the
    driver knows n, each spec's distinct count u and its exact order. For
    an integer rank r, ``r > e`` holds exactly when ``r > floor(e)``, so
    each qcut edge is the key tuple at rank ``floor(e)``, and a row's
    bucket is 1 + the number of edge tuples it sorts strictly after —
    :func:`_bucket_pid_sql` over the edge tuples (sorted, possibly
    repeated). Every spec in ONE projection: no window, no offsets, no
    stats aggregate, no exchange."""
    exprs, idx = _key_union(norms)
    names = [_fresh(taken, f"__rk{i}") for i in range(len(exprs))]
    n = len(rows)
    buckets = {}
    for (_, labels, asc, out), norm, ix in zip(specs, norms, idx):
        tuples = _sorted_keys(rows, norm, ix)
        u = len({_distinct_value(t[0]) for t in tuples if t[0] is not None})
        eq = min(q, u)
        if eq < 2:
            buckets[out] = F.lit(labels[0] if asc else labels[-1])
            continue
        edges = [
            tuples[math.floor(_qcut_edge_value(n, eq, k)) - 1] for k in range(1, eq)
        ]
        pid = _bucket_pid_sql(
            [names[i] for i in ix], norm, edges, [types[i] for i in ix]
        )
        labels_arr = F.array(*[F.lit(x) for x in labels])
        buckets[out] = F.element_at(labels_arr, F.expr(f"1 + {pid}"))
    keyed = df.withColumns(dict(zip(names, exprs)))
    return keyed.withColumns(buckets).drop(*names)


def quantile_buckets_distributed(
    df: DataFrame,
    specs: list[tuple],
    q: int = 5,
    tiebreak: str = "user_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """The package's one rank+qcut bucketing (feature_engineering.py:89-98),
    for several columns at once. ``specs`` is a list of
    ``(col, labels, ascending, out)``; ``out`` None means ``f"{col}_q"``.
    Each spec buckets ``col`` of the INPUT frame, ordered by ``col`` (asc
    or desc) then ``tiebreak`` (asc).

    Each rank is bucketed against the linear-interpolation quantile edges
    of ranks 1..n (right-closed, k = 1 .. q-1),

        edge_k = 1 + (n - 1) * (k / q)

    in IEEE doubles exactly as pandas' ``Series(1..n).quantile(linspace(
    0,1,q+1))`` computes them (:func:`_qcut_edge`), so every bucket equals
    the reference's ``qcut``. For q in {2, 4, 5} every integer rank falls
    on the same side of these doubles as of the exact rational edge
    (checked for every n <= 2e6), so an oracle that evaluates the formula
    in exact decimals agrees. For q = 3 (also a q = 5 column with 3
    distinct values) pandas lands just below the integer edge whenever
    n ≡ 1 (mod 3), and so do we.

    Keeps the reference's degenerate-cardinality guard: fewer than 2
    distinct values → constant fill label; q clamps to the distinct count.

    One action at construction, the shared boundary sample (:func:`_sample`),
    which picks the plan:

    * fewer than K rows sampled — the sample holds every row, and the
      edges are computed on the driver (:func:`_whole_sample_buckets`):
      one projection, one job to force. These answers are exact only for
      the rows the frame held at construction, so they are never memoized
      (`_BOUNDARY_CACHE`).
    * otherwise, or on a memoized boundary set — every spec's exact global
      rank in one :func:`_ranked` pass, and the edges on a 1-row stats
      frame: n and every countDistinct from ONE plain `df.agg`,
      cross-joined as a broadcast instead of an eager ``.first()`` job per
      column (the eager form cost an extra full scan and job per call —
      measured 3× on the sf0.1 bench). The stats scan stays off the
      bucket-id lineage: r11 measured the "share the rank's exchange"
      alternative (stats over the bucketed frame) strictly worse — column
      pruning specializes each subtree's copy of the exchange so
      ReuseExchange never applies, and the branch pays an extra
      repartition plus one more codegen of the ~1000-term bucket-id
      expression (cold 7.9 s vs 2.5 s at sf0.1).
    """
    specs = [(c, labels, asc, out or f"{c}_q") for c, labels, asc, out in specs]
    norms = [
        _normalize_order_spec(
            [(F.col(c), "asc" if asc else "desc"), (F.col(tiebreak), "asc")]
        )
        for c, _, asc, _ in specs
    ]
    taken = {c.lower() for c in (*df.columns, *[s[3] for s in specs])}
    nparts = _nparts(df, num_partitions)
    cache_key = _cache_key(df, norms, nparts)
    sampled = _BOUNDARY_CACHE.get(cache_key)
    if sampled is None:
        rows, types = _sample(df, norms, nparts)
        if len(rows) < _sample_size(nparts):
            return _whole_sample_buckets(df, specs, norms, rows, types, q, taken)
        sampled = _memoize(cache_key, _boundaries(rows, types, norms, nparts))
    ranks = [_fresh(taken, "_rank") for _ in specs]
    us = [_fresh(taken, "_u") for _ in specs]
    n = _fresh(taken, "_n")
    # 1-row stats frame, joined lazily — no separate driver job. It also
    # holds every spec's q-1 edges, computed once here instead of per row.
    # Effective q = min(q, distinct count): an edge with k >= eq is null,
    # and its term below never fires (low-cardinality columns).
    stats = df.agg(
        F.count(F.lit(1)).alias(n),
        *[F.countDistinct(c).alias(u) for (c, *_), u in zip(specs, us)],
    )
    n1 = (F.col(n) - F.lit(1)).cast("double")
    edges = [[_fresh(taken, "_edge") for _ in range(1, q)] for _ in specs]
    stats = stats.select(
        "*",
        *[
            _qcut_edge(n1, F.least(F.lit(q), F.col(u)), k, q).alias(e)
            for u, names in zip(us, edges)
            for k, e in enumerate(names, 1)
        ],
    )
    ranked = _ranked(df, norms, ranks, sampled).crossJoin(F.broadcast(stats))

    def bucket(rank: str, u: str, names: list, labels: list, ascending: bool):
        b = F.lit(1)
        for k, e in enumerate(names, 1):
            b = b + ((F.lit(k) < F.col(u)) & (F.col(rank) > F.col(e))).cast("int")
        # element_at(full labels, b) == element_at(labels[:eq], b) because
        # b <= eq and the slice is a prefix
        label_arr = F.array(*[F.lit(x) for x in labels])
        fill = labels[0] if ascending else labels[-1]
        return F.when(F.col(u) < 2, F.lit(fill)).otherwise(F.element_at(label_arr, b))

    return ranked.withColumns(
        {
            out: bucket(rank, u, names, labels, asc)
            for (_, labels, asc, out), rank, u, names in zip(specs, ranks, us, edges)
        }
    ).drop(*ranks, *us, n, *itertools.chain.from_iterable(edges))


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
    """One-column :func:`quantile_buckets_distributed`."""
    return quantile_buckets_distributed(
        df, [(col, labels, ascending, out)], q, tiebreak, num_partitions
    )


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
    taken = {c.lower() for c in (*df.columns, out)}
    r, n = _fresh(taken, "_r"), _fresh(taken, "_n")
    ranked = global_rank_distributed(
        df, order_spec, rank_col=r, num_partitions=num_partitions
    )
    stats = ranked.agg(F.count(F.lit(1)).alias(n))
    ranked = ranked.crossJoin(F.broadcast(stats))
    bucket = _ntile_bucket(F.col(r), F.col(n), q)
    return ranked.withColumn(out, bucket.cast("int")).drop(r, n)


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
    taken = {c.lower() for c in (*df.columns, out)}
    r, base, n = _fresh(taken, "_r"), _fresh(taken, "_base"), _fresh(taken, "_n")
    ranked = global_rank_distributed(
        df, group_order, rank_col=r, num_partitions=num_partitions
    )
    stats = ranked.groupBy(*group_cols).agg(
        F.min(r).alias(base), F.count(F.lit(1)).alias(n)
    )
    joined = ranked.join(F.broadcast(stats), group_cols)
    rg = F.col(r) - F.col(base) + 1
    bucket = _ntile_bucket(rg, F.col(n), q)
    return joined.withColumn(out, bucket.cast("int")).drop(r, base, n)
