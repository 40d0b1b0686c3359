"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline: one map-side pass computing
dot/norms with higher-order functions (zip_with + aggregate — JVM-native,
no Python), then TakeOrdered for the top-k. At 100 TB the scale path is
LSH bucketing (random-hyperplane signs) so each query probes one bucket
family instead of the full corpus; both share the same cosine kernel.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .sqltext import sql_literal


def as_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def _double_vec_sql(vec_col: str) -> str:
    """SQL text of :func:`as_double` over a named column."""
    return f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"


def _bucket_fold_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """Random-hyperplane LSH bucket as SQL text: sign bits of dot(v, h_p)
    packed little-endian into a BIGINT, each dot a zip_with product
    summed by a sequential left fold (the IEEE add order an ANSI-SQL
    oracle replicates term by term; DuckDB's list_sum matches it
    bit-for-bit). ``vec_sql`` must be an array<double> expression and
    ``planes`` come from :func:`make_planes`, folded in as literal arrays.

    The interpreted aggregate fold beats an explicit element_at sum here:
    unrolling 16 planes × 64 terms into one expression tree blows past
    the JVM codegen method limit (measured 3× slower end-to-end than the
    fold). Built as SQL text and parsed JVM-side in ONE py4j round trip
    (r13): the Column-builder form issued ~70 py4j round trips per plane,
    ~1,100 for a 16-plane family — measured 0.9 s of the 1.2 s banding
    wall at sf0.1, per query construction, data-size-independent."""
    terms = []
    for local_bit, plane in enumerate(planes):
        arr = "array(" + ",".join(sql_literal(v, DoubleType()) for v in plane) + ")"
        proj = (
            f"aggregate(zip_with({vec_sql}, {arr}, (x, h) -> x * h), "
            "0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CAST(({proj}) > 0 AS INT) * {1 << local_bit})")
    return "CAST(0 + " + " + ".join(terms) + " AS BIGINT)"


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of `df` rows against ONE query vector.

    query_vec_df: single-row frame with the query vector under `vec_col`
    (broadcast — the corpus never shuffles).
    """
    q = F.broadcast(query_vec_df.select(F.col(vec_col).alias("_qvec")))
    a = as_double(F.col(vec_col))
    b = as_double(F.col("_qvec"))
    return (
        df.crossJoin(q)
        .select(id_col, F.round(cosine(a, b), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def make_planes(
    num_planes: int, dim: int, plane_offset: int = 0
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (md5-derived, components in
    [-1, 1)) — reproducible across runs with no stored model. Model-sized
    (planes × dim floats): lives on the driver and folds into expressions as
    literals, like fitted centroids. `plane_offset` selects an independent
    plane family (band)."""
    import hashlib

    planes = []
    for p in range(plane_offset, plane_offset + num_planes):
        vec = []
        for i in range(dim):
            h = hashlib.md5(f"plane:{p}:{i}".encode()).digest()
            u = int.from_bytes(h[:8], "big") / 2**64
            vec.append(2.0 * u - 1.0)
        planes.append(vec)
    return planes


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from one row (metadata-sized driver action)."""
    row = df.select(F.size(F.col(vec_col))).first()
    return int(row[0])


def lsh_topk(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
) -> DataFrame:
    """ANN top-k: probe only the query's LSH bucket, then exact cosine.

    Recall < 1 by construction (single-probe); the 100 TB trade: the scan
    touches ~corpus/2^planes rows. Multi-probe = union over neighbor buckets.
    """
    planes = make_planes(num_planes, _probe_dim(df, vec_col))
    bucket = F.expr(_bucket_fold_sql(_double_vec_sql(vec_col), planes))
    bucketed = df.withColumn("_bucket", bucket)
    qb = F.broadcast(
        query_vec_df.select(
            F.col(vec_col).alias("_qvec"), bucket.alias("_qbucket")
        )
    )
    a = as_double(F.col(vec_col))
    b = as_double(F.col("_qvec"))
    return (
        bucketed.join(qb, F.col("_bucket") == F.col("_qbucket"))
        .select(id_col, F.round(cosine(a, b), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def _lit_vec(values: list[float]):
    return F.array(*[F.lit(float(x)) for x in values])


def choose_centroids(
    df: DataFrame, n_centroids: int = 8, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """IVF coarse centroids via deterministic hash-order sample.

    A k-means refinement would lower variance, but a seeded sample is
    reproducible, one small job, and recall differences wash out once
    n_probe > 1. The centroid set is model-sized (C × dim floats) — it lives
    on the driver and broadcasts into expressions, like any fitted model.
    """
    rows = (
        df.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def ivf_assign(vec_col, centroids: list[list[float]]):
    """Nearest-centroid id (max cosine) as a pure map-side expression:
    no shuffle, no UDF — the corpus is scanned once and each row computes
    C inlined dot products inside codegen."""
    v = as_double(vec_col)
    sims = F.array(*[cosine(v, _lit_vec(c)) for c in centroids])
    # argmax: position of the max (1-based); ties → first occurrence
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def ivf_topk(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF ANN top-k: scan only the n_probe inverted lists nearest to the
    query. At 100 TB, write the corpus partitioned by `_centroid` so a probe
    is a partition-pruned scan of ~n_probe/C of the data; recall grows with
    n_probe (n_probe=C ≡ exact brute force). ``refine_iters`` > 0 runs that
    many Lloyd rounds on the coarse centroids before assignment."""
    import math

    cents = centroids or choose_centroids(df, n_centroids, vec_col, id_col)
    if refine_iters > 0:
        cents = kmeans_refine_centroids(df, cents, vec_col, n_iters=refine_iters)
    qrow = query_vec_df.select(vec_col).first()
    qvec = [float(x) for x in qrow[0]]

    def _cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    probe = sorted(range(len(cents)), key=lambda i: -_cos(qvec, cents[i]))[:n_probe]
    assigned = df.withColumn("_centroid", ivf_assign(F.col(vec_col), cents))
    a = as_double(F.col(vec_col))
    return (
        assigned.filter(F.col("_centroid").isin([int(p) for p in probe]))
        .select(id_col, F.round(cosine(a, _lit_vec(qvec)), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, all-pairs) via
    block-broadcast matmul: the comparison matrix (the candidate set) is
    collected and normalized once, shipped to executors inside the closure,
    and each Arrow batch of the distributed side computes one
    batch × matrixᵀ BLAS multiply — ~30× the expression-tree kernel
    (measured 193 s → ~6 s at 5k × 5k, 64-dim).

    Tiering at 100 TB: this exact tier runs on CANDIDATE SETS (post
    LSH-bucket/IVF pruning), which are model-sized by construction. The
    `max_rows` guard ENFORCES that contract — calling it on a full corpus
    raises instead of OOM-ing the driver; use `lsh_dup_pairs` for the
    distributed tiered path.
    """
    import numpy as np

    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_dup_pairs is the exact candidate-set tier: got {n} rows "
            f"> max_rows={max_rows}. Use lsh_dup_pairs (LSH-pruned, "
            "distributed) for corpus-scale near-dup detection, or raise "
            "max_rows explicitly if the frame truly fits on the driver."
        )
    rows = df.select(id_col, vec_col).collect()
    ids = [int(r[0]) for r in rows]
    mat = np.array([[float(x) for x in r[1]] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    id_arr = np.array(ids, dtype=np.int64)

    def block(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            q = np.array(
                [[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64
            )
            qn = np.linalg.norm(q, axis=1)
            qn[qn == 0] = 1.0
            sims = (q / qn[:, None]) @ unit.T  # batch × corpus
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            out_a, out_b, out_s = [], [], []
            for i in range(sims.shape[0]):
                srow = np.round(sims[i], 6)
                mask = (srow >= threshold) & (id_arr > qids[i])
                for j in np.nonzero(mask)[0]:
                    out_a.append(qids[i])
                    out_b.append(int(id_arr[j]))
                    out_s.append(float(srow[j]))
            yield pd.DataFrame(
                {
                    "id_a": pd.Series(out_a, dtype="int64"),
                    "id_b": pd.Series(out_b, dtype="int64"),
                    "cos_sim": pd.Series(out_s, dtype="float64"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        block, schema="id_a long, id_b long, cos_sim double"
    )


def lsh_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int | str = 16,
    bands: int = 4,
    max_bucket_size: int = 10_000,
    kernel: str = "numpy",
    recall_anchor: float | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Distributed tiered near-dup pairs: banded hyperplane-LSH candidate
    generation + exact cosine verify. The corpus-scale public API — unlike
    the all-pairs kernel (`cosine_dup_pairs`, guarded), pairs only form
    within an LSH (band, bucket), so cost is bounded by bucket sizes and the
    whole plan is shuffles + joins (nothing driver-side).

    `num_planes` split into `bands` independent plane families; a pair is a
    candidate if ANY band bucket matches (recall grows with bands, candidate
    volume with 1/2^(planes/bands)). Defaults (4 bands × 4 planes) give
    ~0.95 recall at cosine 0.9 (per-plane agreement p = 1 - acos(s)/π;
    band hit p^4; miss all four ≈ 0.05). Recall < 1 by construction — the
    exact verify keeps precision at 1. Buckets over `max_bucket_size` are
    dropped (degenerate mass, e.g. zero vectors — the skew guard at 100 TB).

    ``kernel`` picks the bucket-projection implementation: ``"numpy"`` (the
    production tier — one Arrow-batched batch × planesᵀ BLAS multiply) or
    ``"expr"`` (sequential left-fold Column expressions whose IEEE add order
    an ANSI-SQL oracle can replicate term by term — the verification tier;
    BLAS reorders the sum, so a projection landing near 0 could flip sign
    vs the oracle's fold). Identical plane family (md5-derived literals),
    identical downstream plan.

    **Scale note — size the plane count to the corpus.** Expected
    candidate volume is ~bands · N² / 2^(planes/bands): a FIXED plane
    count is quadratic in N once the corpus outgrows the 2^(planes/bands)
    buckets. Measured on the r11 sf0.01→0.1→1 curve: the pinned 16/4
    config went superlinear at sf1 (11.2× wall for the 4× embeddings
    step — bucket occupancy 500, ~8M candidate pairs). Pass
    ``num_planes="auto"`` to derive BOTH knobs from a corpus count:
    planes-per-band = max(4, ceil(log2(N / 64))) pins expected bucket
    occupancy at ~64 rows (candidate volume linear in N), and ``bands``
    grows to hold ~0.95 recall at the anchor cosine (band-hit p^ppb with
    p = 1 − acos(anchor)/π, bands = ceil(ln 0.05 / ln(1 − p^ppb)),
    floored at the caller's value) — deepening buckets WITHOUT more
    bands silently decays recall as the corpus grows (measured at sf1:
    4 bands @ 7 planes/band found 26% fewer verified 0.8-pairs than the
    pinned family; 8 derived bands restore the anchor). Costs one
    column-pruned count() job; the declared ORACLE queries keep the
    pinned 16/4 family because their DuckDB SQL embeds the same plane
    literals (a runtime-derived count can't live in a static oracle).
    At 500 rows with ``recall_anchor=0.9`` auto derives exactly the
    pinned 16/4 family (pytest-pinned equal).

    ``recall_anchor`` is the cosine at which auto provisions recall; it
    defaults to the caller's ``threshold`` — the r11 form pinned it at
    0.9 regardless of threshold, under-provisioning recall for pairs
    near a lower cutoff (a 0.8-pair's per-plane agreement is 0.795 vs
    0.856 at 0.9, so a family sized for 0.9 misses 0.8-pairs more
    often). Derived bands EXTEND a smaller family's plane offsets
    (band b projects planes [b·ppb, (b+1)·ppb)), so a lower anchor only
    adds bands: at equal ppb its verified pairs are a SUPERSET of any
    higher-anchor family's (pytest-pinned vs the pinned 16/4).
    """
    n_rows = None
    if num_planes == "auto":
        n_rows = df.select(id_col).count()
        ppb = max(4, math.ceil(math.log2(max(n_rows, 1) / 64)) if n_rows > 64 else 4)
        anchor = threshold if recall_anchor is None else recall_anchor
        p_anchor = 1.0 - math.acos(anchor) / math.pi
        band_hit = p_anchor**ppb
        bands = max(bands, math.ceil(math.log(0.05) / math.log(1.0 - band_hit)))
        num_planes = ppb * bands
    if num_planes % bands:
        # a remainder would silently shrink the plane family (trailing
        # planes never projected) vs what the caller asked for
        raise ValueError(
            f"num_planes ({num_planes}) must be divisible by bands ({bands})"
        )
    ppb = num_planes // bands
    # the declared queries pass `dim` (their oracle SQL embeds dim-sized
    # plane literals, so the fixture dim is pinned anyway) — skips one
    # metadata .first() job per call; default None probes one row
    if dim is None:
        dim = _probe_dim(df, vec_col)
    from ..io import fan_out

    # the plane-projection kernel is the expensive map stage; a one-row-group
    # embedding dump would otherwise project every vector on a single core
    base = fan_out(df.select(id_col, vec_col))
    planes_by_band = [
        make_planes(ppb, dim, plane_offset=band * ppb) for band in range(bands)
    ]
    if kernel == "expr":
        # hoist the float→double cast to a projected attribute: every
        # band×plane dot references the vector, and an inline cast re-ran
        # the interpreted array transform num_planes× per row, while a
        # projected attribute casts once per row (CollapseProject keeps
        # the boundary: a lambda transform referenced many times is not
        # collapse-cheap). The cast is exact, so the fold sees
        # bit-identical doubles either way.
        bd = base.select(id_col, F.expr(_double_vec_sql(vec_col)).alias("_vd"))
        buckets_sql = "array(" + ",".join(
            _bucket_fold_sql("_vd", planes_by_band[band])
            for band in range(bands)
        ) + ")"
        bb = bd.select(
            id_col, F.expr(f"posexplode({buckets_sql})").alias("band", "bucket")
        )
    else:
        # all band buckets in ONE Arrow-batched numpy matmul per batch: the
        # expression-tree form evaluates planes × dims multiply-adds per row
        # in the interpreter (higher-order fns don't codegen) — the
        # vectorized UDF is the sanctioned fast path for this dense math
        buckets_udf = _band_buckets_udf(planes_by_band)
        bb = (
            base.withColumn("_bks", buckets_udf(F.col(vec_col)))
            .select(id_col, F.posexplode("_bks").alias("band", "bucket"))
        )
    from .dedup import capped_bucket_pairs

    # shared self-join core (cap window + one reused exchange — see
    # capped_bucket_pairs). IDs ONLY through the join: carrying the vectors
    # would shuffle dim floats per candidate ROW; they re-attach at the
    # verify tier (measured r13: the carried-vector form was SLOWER at
    # sf0.1 — the verify joins broadcast the small vecs frame).
    cand, capped = capped_bucket_pairs(bb, id_col, max_bucket_size)
    # Dedup candidates BEFORE the verify tier when buckets are DEEP (r13
    # — refines the r12 "dedup only after the filter" rule on
    # measurement): multi-band collisions stop being rare once buckets
    # deepen (sf1's occupancy-500 pinned family: 23.4% of 12.1M candidate
    # pairs are duplicates, each paying two vector-join probes plus a
    # dim-length interpreted dot — pre-distinct measured 13.9 → 7.2 s
    # there), but the distinct's exchange is pure overhead while buckets
    # are shallow (sf0.1: occupancy 125, 10% duplicates, +0.7 s — the
    # verify joins broadcast the vecs frame, so this would be the
    # pipeline's ONLY candidate-sized shuffle). Gate on expected bucket
    # occupancy n/2^ppb — the quantity that drives the duplicate rate —
    # with the crossover pinned between the two measured points; the
    # count is column-pruned and reuses the auto family's (which, sizing
    # ppb to occupancy ~64, never dedups — its collision rate stays low
    # by construction). Output unchanged either way: verify is
    # deterministic per pair and the post-filter dropDuplicates collapses
    # multi-band survivors; this only moves WHERE the collapse happens.
    if n_rows is None:
        n_rows = df.select(id_col).count()
    if n_rows / float(1 << ppb) >= 256:
        cand = cand.distinct()
    # verify tier: norms fold ONCE PER DOC here, not per pair — the same
    # left fold over the same list produces the identical double, so oracle
    # bit-compatibility is preserved while the per-pair work drops to the
    # dot product. The float→double cast is ALSO hoisted per doc: casting
    # is exact, so the fold sees bit-identical doubles, while the per-pair
    # interpreted work drops two transform passes (candidates ≥ docs in any
    # dup-bearing corpus; the wider shuffled array — 4 extra bytes/element
    # on the verify join sides — is the cheaper side of that trade). Plain
    # joins (no broadcast hint): the vector frame is corpus-sized at
    # 100 TB, AQE picks broadcast when it actually fits.
    vecs = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_vd")
    ).withColumn("_n", norm(F.col("_vd")))
    va = vecs.select(
        F.col(id_col).alias("id_a"),
        F.col("_vd").alias("_va"),
        F.col("_n").alias("_na"),
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"),
        F.col("_vd").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    sim = F.round(
        dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        6,
    )
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        # the ONE pair-dedup of the pipeline, on the post-threshold frame:
        # collapses multi-band candidate collisions AND endpoint-count
        # multiplication from a duplicated id in df (this frame is
        # pair-list-sized, so the exchange is noise)
        .dropDuplicates(["id_a", "id_b"])
    )
    from .dedup import materialize

    return materialize(verified, capped)


def _band_buckets_udf(planes_by_band: list[list[list[float]]]):
    """Arrow-batched bucket assignment: for each row vector, the packed sign
    bits of its projections onto every band's plane family — one
    batch × planesᵀ BLAS multiply per Arrow batch, returning
    ``array<long>`` indexed by band."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mats = [np.array(p, dtype=np.float64) for p in planes_by_band]
    weights = [(2 ** np.arange(m.shape[0])).astype(np.int64) for m in mats]

    def band_buckets(vecs):
        x = np.array(vecs.tolist(), dtype=np.float64)
        per_band = [((x @ m.T) > 0) @ w for m, w in zip(mats, weights)]
        stacked = np.stack(per_band, axis=1)
        return pd.Series([row.tolist() for row in stacked])

    # real-object annotations: the module's `from __future__ import
    # annotations` would stringify inline hints, and pandas_udf's eval-type
    # inference can't resolve strings against locally-imported names
    band_buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(band_buckets, "array<long>")


def hamming_ball_masks(num_planes: int, radius: int) -> list[int]:
    """All XOR masks flipping up to `radius` of `num_planes` bits (incl. 0)."""
    import itertools

    masks = [0]
    for r in range(1, min(radius, num_planes) + 1):
        for combo in itertools.combinations(range(num_planes), r):
            masks.append(sum(1 << p for p in combo))
    return masks


def lsh_topk_multiprobe(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    n_probe_flips: int = 1,
) -> DataFrame:
    """Multi-probe LSH ANN: probe the query's bucket AND every bucket within
    ``n_probe_flips`` sign flips (full hamming ball over the plane bits —
    all C(planes, 1..r) flip combinations, not just single bits).

    Recall climbs steeply with probes (bit flips model near-boundary
    hyperplane errors) while the scan stays ~(1 + planes) / 2^planes of the
    corpus for one flip — the standard recall/cost dial between single-probe
    LSH and brute force.
    """
    planes = make_planes(num_planes, _probe_dim(df, vec_col))
    bucket = F.expr(_bucket_fold_sql(_double_vec_sql(vec_col), planes))
    bucketed = df.withColumn("_bucket", bucket)
    qbase = query_vec_df.select(F.col(vec_col).alias("_qvec"), bucket.alias("_qbucket"))
    # expand the probe set: bucket ids within the hamming ball of radius
    # n_probe_flips (the ball is computed driver-side — it is plane-count
    # sized, not data-sized)
    flips = [
        F.col("_qbucket").bitwiseXOR(F.lit(m))
        for m in hamming_ball_masks(num_planes, n_probe_flips)
    ]
    probes = F.broadcast(
        qbase.select(
            "_qvec", F.explode(F.array(*flips)).alias("_probe_bucket")
        ).distinct()
    )
    a = as_double(F.col(vec_col))
    b = as_double(F.col("_qvec"))
    return (
        bucketed.join(probes, F.col("_bucket") == F.col("_probe_bucket"))
        .select(id_col, F.round(cosine(a, b), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar (per-dimension) int8 quantization — the compression pass ANN
    pipelines run before indexing (4× smaller than float32, ~32× smaller
    than float64; recall loss is negligible for top-k with rescoring).

    Two-pass shape: per-dimension min/max from one posexplode+groupBy (64
    rows out), broadcast back into the code expression:

        code = round((x - min_d) / (max_d - min_d) * 255)

    A degenerate (constant) dimension has max = min — the ratio would be
    0/0 = NULL codes; such dimensions carry no information, so every row
    gets code 0 there (the CASE the oracle mirrors).

    Returns EXPLODED rows (id, dim, code) — the layout a PQ/IVF index
    builder consumes, and the one an ANSI-SQL oracle can replicate as a
    plain join.
    """
    exploded = df.select(
        F.col(id_col), F.posexplode(as_double(F.col(vec_col))).alias("dim", "x")
    )
    stats = exploded.groupBy("dim").agg(
        F.min("x").alias("_mn"), F.max("x").alias("_mx")
    )
    code = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.round(
            (F.col("x") - F.col("_mn")) / (F.col("_mx") - F.col("_mn")) * 255
        ).cast("int")
    )
    return (
        exploded.join(F.broadcast(stats), "dim")
        .select(F.col(id_col), F.col("dim"), code.alias("code"))
    )


def kmeans_refine_centroids(
    df: DataFrame,
    init_centroids: list[list[float]],
    vec_col: str = "embedding",
    n_iters: int = 5,
) -> list[list[float]]:
    """Lloyd refinement of the IVF coarse centroids, fully distributed:
    each round is one map-side nearest-centroid assignment (inlined dot
    products, no shuffle) plus one posexplode+groupBy computing per-centroid
    per-dimension means (shuffle of C×dim cells). The centroid set is
    model-sized, so only C×dim floats ever reach the driver per round —
    the same contract as `choose_centroids`.

    Empty clusters keep their previous centroid (standard Lloyd guard).
    Deterministic given the deterministic init — no RNG anywhere.
    """
    cents = [list(map(float, c)) for c in init_centroids]
    base = df.select(as_double(F.col(vec_col)).alias("_v"))
    for _ in range(n_iters):
        assigned = base.withColumn("_c", ivf_assign(F.col("_v"), cents))
        means = (
            assigned.select("_c", F.posexplode("_v").alias("_dim", "_x"))
            .groupBy("_c", "_dim")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        per_c: dict[int, dict[int, float]] = {}
        for r in means:
            per_c.setdefault(int(r["_c"]), {})[int(r["_dim"])] = float(r["_m"])
        for ci, dims in per_c.items():
            new_cents[ci] = [dims[d] for d in sorted(dims)]
        if new_cents == cents:
            break
        cents = new_cents
    return cents


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ): the 100 TB ANN memory tier. Vectors
# compress to m subspace codes (m bytes at k<=256 codewords vs 4·dim bytes
# raw — 32x for dim=64/m=8); the scan ranks by an asymmetric-distance table
# lookup over codes only, and only the short re-rank list touches full
# vectors. Codebooks are model-sized (m × k × dim/m floats) and train on a
# deterministic hash-order sample — model fitting on the driver, like the
# IVF centroids above.
# ---------------------------------------------------------------------------


def l2sq(a, b):
    """Squared L2 distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    sample: int = 256,
    n_iters: int = 3,
) -> list[list[list[float]]]:
    """Per-subspace codebooks via Lloyd on a deterministic hash-order
    sample. The sample (`sample` × dim floats) and the result are
    model-sized; training is driver-side numpy on purpose — fitting a
    model, not scanning the corpus. Returns m × k × (dim/m)."""
    import numpy as np

    rows = (
        df.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    X = np.asarray([[float(x) for x in r[0]] for r in rows])
    # codebooks live on the UNIT SPHERE: vectors are L2-normalized before
    # encoding (see pq_adc_topk), which makes squared-L2 monotone with
    # cosine (||a-b||^2 = 2 - 2 cos for unit a, b) — the ADC candidate cut
    # and the exact cosine re-rank then agree on ordering
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        # deterministic init: first k DISTINCT sample rows of the subspace
        # (duplicate seeds would start Lloyd with coincident centroids that
        # never separate)
        uniq = S[np.sort(np.unique(S, axis=0, return_index=True)[1])]
        C = uniq[:k].copy()
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_encode(vec_col, codebooks: list[list[list[float]]]):
    """m subspace codes as ONE map-side expression (array<int>): for each
    subspace, the argmin-L2 codeword index over k inlined distances. No
    shuffle, no UDF — encoding a 100 TB corpus is a single scan."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    raw = as_double(vec_col)
    nrm = norm(raw)
    # unit-normalize to match the codebook space (zero vectors pass through)
    v = F.when(nrm > 0, F.transform(raw, lambda x: x / nrm)).otherwise(raw)
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(v, j * dsub + 1, dsub)
        dists = F.array(*[l2sq(sub, _lit_vec(c)) for c in book])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def pq_adc_topk(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codewords: int = 16,
    n_centroids: int = 8,
    n_probe: int = 2,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ANN top-k: coarse probe (IVF) → asymmetric-distance scan over
    PQ codes → exact cosine re-rank of the best `rerank` candidates.

    The ADC table (m × k floats: query-subvector distance to every
    codeword) folds in as literal arrays; the approximate distance per row
    is m element_at lookups + adds over the CODES column — the full vector
    is only read for the `rerank` survivors. At 100 TB the codes table is
    the only thing the scan touches (32× smaller than the raw vectors),
    partitioned by `_centroid` for probe pruning."""
    import math

    cents = choose_centroids(df, n_centroids, vec_col, id_col)
    books = train_pq_codebooks(
        df, vec_col, id_col, m=m, k=n_codewords
    )
    qrow = query_vec_df.select(vec_col).first()
    qvec = [float(x) for x in qrow[0]]
    qn = math.sqrt(sum(x * x for x in qvec)) or 1.0
    qvec_n = [x / qn for x in qvec]
    dsub = len(qvec) // m
    # driver-side ADC table: dist(normalized query_sub_j, codeword_jk) —
    # in the unit-sphere code space this ranking is cosine-consistent
    table = [
        [
            sum(
                (qvec_n[j * dsub + i] - book[c][i]) ** 2 for i in range(dsub)
            )
            for c in range(len(book))
        ]
        for j, book in enumerate(books)
    ]

    def _cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    probe = sorted(range(len(cents)), key=lambda i: -_cos(qvec, cents[i]))[
        :n_probe
    ]
    assigned = df.withColumn("_centroid", ivf_assign(F.col(vec_col), cents))
    coded = assigned.withColumn("_codes", pq_encode(F.col(vec_col), books))
    adc = None
    for j in range(m):
        term = F.element_at(
            _lit_vec(table[j]), F.element_at(F.col("_codes"), j + 1) + 1
        )
        adc = term if adc is None else adc + term
    candidates = (
        coded.filter(F.col("_centroid").isin([int(p) for p in probe]))
        .withColumn("_adc", adc)
        .orderBy(F.asc("_adc"), id_col)
        .limit(rerank)
    )
    a = as_double(F.col(vec_col))
    return (
        candidates.select(
            id_col, F.round(cosine(a, _lit_vec(qvec)), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def ivf_topk_exact(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN top-k whose ENTIRE result a SQL oracle can replay — the
    oracle-checkable twin of :func:`ivf_topk` (whose float Lloyd
    refinement accumulates per-dim double means in engine-specific order).

    Coarse quantizer: the exact-integer Lloyd tier
    (:func:`~..ml.embeddings.kmeans_lloyd_fit` — md5-order init, scaled-int
    distances, rational half-away centroid rounding), so inverted-list
    membership is deterministic pure-integer arithmetic on any engine.
    Probe selection: the ``n_probe`` centroids with the smallest exact
    integer squared L2 to the QUANTIZED query vector (ties to the smaller
    cluster id) — computed driver-side on the collected integer model,
    mirrored verbatim by the oracle's ORDER BY ... LIMIT. Scoring: exact
    cosine on the original float vectors via the sequential-fold kernel
    (bit-identical in DuckDB — the `lsh_ann_topk` precedent), rounded to
    6 dp, ordered (cos desc, id).

    Same 100 TB shape as :func:`ivf_topk`: map-side assignment against
    centroid literals, probe scan touches ~n_probe/C of the corpus
    (partition-pruned when the corpus is written partitioned by cluster);
    only the k×dim integer model reaches the driver.
    """
    from ..ml.embeddings import (
        _lloyd_assign_expr,
        kmeans_lloyd_fit,
        quantize_vec_expr,
    )

    _, cents = kmeans_lloyd_fit(
        df, k=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # quantized query vector via the SAME expression the fit used — zero
    # drift between engine and oracle quantization; the raw float form
    # rides the SAME .first() (one driver job, matching pq_adc_topk_exact)
    qrow = query_vec_df.select(
        quantize_vec_expr(F.col(vec_col)).alias("_qe"),
        as_double(F.col(vec_col)).alias("_qv"),
    ).first()
    qint = [int(v) for v in qrow["_qe"]]

    def _l2(c):
        return sum((a - b) * (a - b) for a, b in zip(qint, c))

    probe = sorted(range(len(cents)), key=lambda j: (_l2(cents[j]), j))[:n_probe]

    qvec = [float(x) for x in qrow["_qv"]]
    a = as_double(F.col(vec_col))
    assigned = df.withColumn(
        "_e", quantize_vec_expr(F.col(vec_col))
    ).withColumn("_centroid", _lloyd_assign_expr(cents))
    return (
        assigned.filter(F.col("_centroid").isin([int(p) for p in probe]))
        .select(id_col, F.round(cosine(a, _lit_vec(qvec)), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def pq_codebooks_exact(
    base: DataFrame,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    salt: str = "pq",
) -> list[list[list[int]]]:
    """Per-subspace PQ codebooks on the exact-integer Lloyd ladder —
    fully SQL-replayable, unlike :func:`train_pq_codebooks` (whose numpy
    float means accumulate in engine-specific order).

    ``base`` is the quantized frame ``(id_col, _e array<long>)`` — for
    cosine-consistent codes quantize with ``normalize=True``
    (unit-sphere squared-L2 is monotone with cosine). Init: the
    ``k_codes`` md5-order seed rows (one sample job), sliced per
    subspace. Each Lloyd round is ONE pass for ALL subspaces: explode to
    (subspace, subvector) pairs (×m map-side fan-out of dim/m-long
    arrays), assign per-subspace via the shared ``min(dist·16+j)``
    argmin, one (m·k_codes)-bounded partial-agg shuffle; the driver
    collects m·k_codes·(dim/m + 1) integers per round and updates
    centroids by the exact rational half-away rule. Returns
    ``m × k_codes × (dim/m)`` integer codebooks."""
    from ..ml.embeddings import _lloyd_assign_expr

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if k_codes > 16:
        raise ValueError("pq_codebooks_exact encodes argmin as dist*16+j; k_codes <= 16")
    dsub = dim // m
    seeds = (
        base.select(
            "_e",
            F.md5(
                F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
            ).alias("_h"),
        )
        .orderBy("_h")
        .limit(k_codes)
        .collect()
    )
    books = [
        [list(r["_e"])[s * dsub : (s + 1) * dsub] for r in seeds]
        for s in range(m)
    ]

    def _round_half_away(s: int, n: int) -> int:
        if s >= 0:
            return (2 * s + n) // (2 * n)
        return -((-2 * s + n) // (2 * n))

    for _ in range(iters):
        pairs = base.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice("_e", s * dsub + 1, dsub).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("p")
        ).select(F.col("p.s").alias("s"), F.col("p.sv").alias("sv"))
        code = None
        for s in range(m):
            expr_s = _lloyd_assign_expr(books[s], arr=F.col("sv"))
            code = (
                F.when(F.col("s") == s, expr_s)
                if code is None
                else code.when(F.col("s") == s, expr_s)
            )
        rows = (
            pairs.withColumn("_c", code)
            .groupBy("s", "_c")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(F.element_at("sv", d + 1)).alias(f"_s{d}")
                    for d in range(dsub)
                ],
            )
            .collect()
        )
        by_key = {(int(r["s"]), int(r["_c"])): r for r in rows}
        for s in range(m):
            for j in range(k_codes):
                r = by_key.get((s, j))
                if r is None:
                    continue  # empty code keeps its previous centroid
                n = int(r["_n"])
                books[s][j] = [
                    _round_half_away(int(r[f"_s{d}"]), n) for d in range(dsub)
                ]
    return books


def pq_adc_topk_exact(
    df: DataFrame,
    query_vec_df: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codewords: int = 16,
    n_centroids: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ ANN top-k whose ENTIRE pipeline a SQL oracle replays —
    coarse probe, PQ codes, asymmetric-distance candidate cut, and exact
    cosine re-rank, all deterministic.

    Everything quantizes to the UNIT-SPHERE integer space
    (`quantize_vec_expr(normalize=True)` — the norm fold and division are
    bit-identical across engines): the coarse quantizer and the PQ
    codebooks are exact-integer Lloyd fits, the ADC table is pure-integer
    driver arithmetic (m×k_codes squared-L2 values injected as literals),
    the candidate cut is an integer `orderBy(_adc, id) LIMIT rerank`, and
    the final scores are the fold-kernel cosine on the RAW float vectors,
    rounded to 6 dp. Same 100 TB shape as :func:`pq_adc_topk`: encoding
    is one map-side scan, the candidate scan touches codes only, and only
    the m·k_codes·(dim/m) integer model reaches the driver."""
    from ..ml.embeddings import (
        _lloyd_assign_expr,
        kmeans_lloyd_fit,
        quantize_vec_expr,
    )

    _, cents = kmeans_lloyd_fit(
        df, k=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col,
        normalize=True,
    )
    dim = len(cents[0])
    dsub = dim // m
    base = df.select(
        F.col(id_col),
        quantize_vec_expr(F.col(vec_col), normalize=True).alias("_e"),
    )
    books = pq_codebooks_exact(
        base, dim, m=m, k_codes=n_codewords, iters=iters, id_col=id_col
    )
    # one driver job for both query forms (quantized ints for probe/ADT,
    # raw floats for the exact re-rank)
    qrow = query_vec_df.select(
        quantize_vec_expr(F.col(vec_col), normalize=True).alias("_qe"),
        F.col(vec_col).alias("_qv"),
    ).first()
    qint = [int(v) for v in qrow["_qe"]]
    qvec = [float(x) for x in qrow["_qv"]]

    def _l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe = sorted(range(len(cents)), key=lambda j: (_l2(qint, cents[j]), j))[
        :n_probe
    ]
    adt = [
        [
            _l2(qint[s * dsub : (s + 1) * dsub], books[s][j])
            for j in range(n_codewords)
        ]
        for s in range(m)
    ]

    coded = df.withColumn(
        "_e", quantize_vec_expr(F.col(vec_col), normalize=True)
    ).withColumn("_centroid", _lloyd_assign_expr(cents))
    adc = None
    for s in range(m):
        code_s = _lloyd_assign_expr(
            books[s], arr=F.slice("_e", s * dsub + 1, dsub)
        )
        tbl = F.array(*[F.lit(int(d)).cast("long") for d in adt[s]])
        term = F.element_at(tbl, code_s + 1)
        adc = term if adc is None else adc + term
    candidates = (
        coded.filter(F.col("_centroid").isin([int(p) for p in probe]))
        .withColumn("_adc", adc)
        .orderBy(F.asc("_adc"), id_col)
        .limit(rerank)
    )
    a = as_double(F.col(vec_col))
    return (
        candidates.select(
            id_col, F.round(cosine(a, _lit_vec(qvec)), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )
