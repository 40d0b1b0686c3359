"""Mergeable-sketch operators with exact-verify composition.

The pattern (shared with `selection.bloom_decontaminate`): a fixed-size
sketch prunes the corpus map-side, and an exact pass over the surviving
candidates restores EXACT semantics — so the declared queries stay
oracle-checkable while the heavy shuffle disappears.

Count-min sketch (Cormode & Muthukrishnan 2005) for heavy hitters: the
sketch is a d×w count grid — the groupBy shuffles AT MOST d·w distinct
keys no matter how many distinct tokens exist. A 100 TB corpus with
billions of distinct n-grams/URLs never pays a full-vocab shuffle; only
occurrences whose (overestimating) sketch count clears the threshold
reach the exact count, and CMS admits no underestimates, so every true
heavy hitter survives the prefilter — the final exact filter then
discards the sketch's false positives.

Sketch-internal hashing is Kirsch–Mitzenmacher double hashing off TWO
xxhash64 calls per occurrence (h_r = h0 + r·h1 mod w): JVM-side,
whole-stage-codegen'd, and hash choice is invisible to the declared
query's oracle because the composition's RESULT is exact (the plain
top-k SQL) for ANY hash family. r12 note: the r11 form hashed with the
portable md5 kernel inside a depth-way explode — 8 md5(concat) calls
per occurrence on the sketch pass alone; at sf0.1 the hash work, not
the bounded shuffle, dominated the query (4.6 s; the #1 headline cost
at every SF). The xxhash64 kernel plus the hash-once/explode-ints
rewrite below cut the constant without touching the plan shape.

Reference provenance: the reference has no sketch tier (single-node
pandas counts, src/processing/etl_pipeline.py); this extends the engine
along SURVEY §2's aggregation family toward corpus-scale frequency
analysis.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket_cols(token_col: str, depth: int, width: int) -> list:
    """d bucket expressions from TWO hashes (Kirsch–Mitzenmacher).

    h0/h1 are plain xxhash64 over the token (seed varied via a literal
    second argument); every row's bucket is h0 + r·h1 mod w — integer
    arithmetic after the two hash calls, all inside codegen. Both hashes
    reduce mod w BEFORE the combine (equivalent mod w) so the r·h1 term
    never overflows a long under ANSI arithmetic.
    """
    h0 = F.pmod(F.xxhash64(F.col(token_col)), F.lit(width))
    h1 = F.pmod(F.xxhash64(F.col(token_col), F.lit(1)), F.lit(width))
    return [
        F.pmod(h0 + F.lit(r) * h1, F.lit(width)).cast("int").alias(f"b{r}")
        for r in range(depth)
    ]


def cms_sketch(
    tokens: DataFrame,
    token_col: str = "tok",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """(row, bucket, n) count-min grid over a token-occurrence frame.

    Hash twice per occurrence, then posexplode the d small-int buckets
    (explode multiplies ROWS by d, but each exploded row is two ints —
    the token string and the hash work never fan out). One groupBy whose
    key space is bounded by depth·width — map-side partials collapse
    each partition to at most that many rows before the shuffle.
    """
    return (
        tokens.select(
            F.posexplode(F.array(*_bucket_cols(token_col, depth, width)))
            .alias("row", "bucket")
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_heavy_hitters(
    tokens: DataFrame,
    min_share: float,
    top_k: int,
    token_col: str = "tok",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """EXACT top-k tokens with count ≥ ceil(min_share · total), found via a
    CMS prefilter.

    1. Build the d×w sketch (bounded shuffle) and COLLECT it — the grid
       is ≤ depth·width rows BY CONSTRUCTION (model-sized at any corpus
       scale; same discipline as the centroid/codebook collects). This is
       a build-time action (kept; SCALE.md, "Spark actions at build
       time"): the grid becomes literals in the plan, so it must exist
       before the plan does. The returned frame itself stays lazy.
    2. The grand total and threshold are derived driver-side from row 0
       of the grid (each occurrence increments exactly one bucket per
       row, so any row's bucket counts sum to the total).
    3. Map-side per-occurrence estimate: `least()` over d lookups into
       DENSE ARRAY LITERALS (one width-long array per grid row) — no
       joins, no broadcast exchanges, pure codegen arithmetic. CMS never
       underestimates ⇒ the kept set is a SUPERSET of the true heavy
       hitters.
    4. Exact groupBy over surviving occurrences only, exact threshold
       re-check, deterministic (count desc, token) top-k.

    The declared query's oracle is the plain exact top-k SQL — the sketch
    changes the plan, never the result (the salted_skew_join_counts
    discipline). r12: this replaced d broadcast-joins + two crossJoins
    (r11 shape) with the literal-array lookup — measured 4.3 s → under
    3 s at sf0.1 with the oracle untouched.
    """
    import math

    grid_rows = cms_sketch(tokens, token_col, depth, width).collect()
    grid = [[0] * width for _ in range(depth)]
    for rec in grid_rows:
        grid[rec["row"]][rec["bucket"]] = rec["n"]
    total = sum(grid[0])
    threshold = max(1, math.ceil(total * float(min_share)))
    occ = tokens.select(
        F.col(token_col), *_bucket_cols(token_col, depth, width)
    )
    # the d dense-array lookups parse as ONE SQL expression: the Column
    # form issued ~depth×width py4j round trips building the literal
    # arrays (~1,050 calls = ~0.5 s of query construction at any SF —
    # r13); integer literals render exactly, so the tree is identical
    estimate = F.expr(
        "least("
        + ", ".join(
            f"element_at(array({','.join(str(n) for n in grid[r])}), "
            f"b{r} + 1)"
            for r in range(depth)
        )
        + ")"
    )
    survivors = occ.filter(estimate >= F.lit(threshold)).select(token_col)
    return (
        survivors.groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(threshold))
        .orderBy(F.col("n").desc(), F.col(token_col))
        .limit(top_k)
    )


def merge_sketches(sketches: list[DataFrame]) -> DataFrame:
    """Merge CMS grids built over disjoint slices: cell-wise sum.

    This is THE property that makes the sketch distributed- and
    streaming-friendly — per-partition/per-micro-batch grids union and
    re-aggregate to exactly the full-corpus grid (counts are additive per
    (row, bucket)), so an incremental pipeline folds each batch's
    fixed-size grid into a store instead of re-scanning history. The
    mergeability pytest pins exact equality with the one-pass sketch.
    """
    if not sketches:
        raise ValueError("merge_sketches needs at least one sketch")
    unioned = reduce(lambda a, b: a.unionByName(b), sketches)
    return unioned.groupBy("row", "bucket").agg(F.sum("n").alias("n"))


__all__ = ["cms_heavy_hitters", "cms_sketch", "merge_sketches"]
