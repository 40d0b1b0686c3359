"""IVF ANN + embedding-cosine dedup tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.operators import similarity as S


def test_ivf_assignment_covers_all(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    cents = S.choose_centroids(emb, n_centroids=4)
    assert len(cents) == 4 and len(cents[0]) == 64
    assigned = emb.withColumn("_c", S.ivf_assign(F.col("embedding"), cents))
    row = assigned.agg(F.min("_c"), F.max("_c"), F.count("*")).first()
    assert 0 <= row[0] and row[1] <= 3 and row[2] == emb.count()


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=5).collect()}
    # probing ALL lists ≡ exact search
    full = S.ivf_topk(emb, q, k=5, n_centroids=4, n_probe=4)
    assert {r["vec_id"] for r in full.collect()} == exact
    # single-probe result is a subset of the corpus with query in its own list
    one = S.ivf_topk(emb, q, k=5, n_centroids=4, n_probe=1).collect()
    assert 0 in {r["vec_id"] for r in one}  # self-similarity 1.0 survives


def test_cosine_dup_pairs_symmetric_free(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").limit(60)
    pairs = S.cosine_dup_pairs(emb, threshold=-1.0)
    n = emb.count()
    assert pairs.count() == n * (n - 1) // 2  # each unordered pair once
    bad = pairs.filter((F.col("cos_sim") > 1.000001) | (F.col("cos_sim") < -1.000001))
    assert bad.count() == 0


def test_ivf_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The IVF scale path: corpus written partitioned by centroid id → a
    probe of n_probe lists is a partition-pruned scan (only the probed
    centroid directories are read)."""
    emb = table(spark, sf_dir, "embeddings")
    cents = S.choose_centroids(emb, n_centroids=4)
    assigned = emb.withColumn("_centroid", S.ivf_assign(F.col("embedding"), cents))
    path = str(tmp_path / "ivf_corpus")
    assigned.write.partitionBy("_centroid").mode("overwrite").parquet(path)

    corpus = spark.read.parquet(path)
    probe = corpus.filter(F.col("_centroid").isin(0, 1))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filter present, and only the probed directories feed the scan
    assert "_centroid" in plan
    expected = assigned.filter(F.col("_centroid").isin(0, 1)).count()
    assert probe.count() == expected
    import os

    dirs = [d for d in os.listdir(path) if d.startswith("_centroid=")]
    assert len(dirs) >= 2  # multiple inverted lists materialized on disk


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=10).collect()}
    single = {r["vec_id"] for r in S.lsh_topk(emb, q, k=10).collect()}
    multi = {
        r["vec_id"]
        for r in S.lsh_topk_multiprobe(emb, q, k=10, n_probe_flips=1).collect()
    }
    # multi-probe scans a superset of the single-probe bucket → recall vs
    # the exact top-10 can only improve (or stay equal)
    assert len(multi & exact) >= len(single & exact)
    assert 0 in multi  # the query vector itself always survives


def test_kmeans_refinement_improves_assignment_quality(spark, sf_dir):
    """Lloyd rounds must not make the coarse quantizer worse: the mean
    cosine of each vector to its assigned centroid is at least as good as
    under the unrefined hash-sampled init, and assignments still cover all
    vectors."""
    emb = table(spark, sf_dir, "embeddings")
    init = S.choose_centroids(emb, n_centroids=4)
    refined = S.kmeans_refine_centroids(emb, init, n_iters=3)
    assert len(refined) == 4 and len(refined[0]) == 64

    def mean_assigned_cos(cents):
        v = S.as_double(F.col("embedding"))
        best = F.greatest(*[S.cosine(v, S._lit_vec(c)) for c in cents])
        return emb.agg(F.avg(best)).first()[0]

    assert mean_assigned_cos(refined) >= mean_assigned_cos(init) - 1e-9
    assigned = emb.withColumn("_c", S.ivf_assign(F.col("embedding"), refined))
    assert assigned.filter(F.col("_c").isNull()).count() == 0


def test_pq_encode_shapes_and_determinism(spark, sf_dir):
    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = table(spark, sf_dir, "embeddings")
    books = S.train_pq_codebooks(emb, m=8, k=16)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    dsub = len(books[0][0])
    assert dsub * 8 == 64
    coded = emb.select("vec_id", S.pq_encode(F.col("embedding"), books).alias("c"))
    rows = {r.vec_id: list(r.c) for r in coded.collect()}
    rows2 = {r.vec_id: list(r.c) for r in coded.collect()}
    assert rows == rows2  # deterministic encoding
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in rows.values())


def test_ivf_pq_recall_on_planted_clusters(spark):
    """Recall on PLANTED cluster structure — the workload ANN exists for
    (isotropic random vectors are the information-theoretic worst case:
    all pairs sit at cosine ~0.4 and any quantizer reorders them). The
    cosine-consistent ADC (unit-sphere codebooks) must recover true
    neighbors both at the registered query's DEFAULT parameters and with
    the probe loss eliminated (full probe isolates PQ quantization loss)."""
    import numpy as np

    from skiliopay_datapipeline_customer_spark.operators import similarity as S
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 64))
    rows = []
    i = 0
    for c in range(8):
        for _ in range(60):
            rows.append(
                (i, [float(x) for x in centers[c] + 0.15 * rng.normal(size=64)])
            )
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    exact = [r.vec_id for r in S.brute_force_topk(df, q, k=10).collect()]

    defaults = [r.vec_id for r in S.pq_adc_topk(df, q, k=10).collect()]
    assert 0 in defaults  # the query vector itself survives quantization
    assert len(set(exact) & set(defaults)) / 10 >= 0.6

    full = [
        r.vec_id
        for r in S.pq_adc_topk(df, q, k=10, n_probe=8, rerank=100).collect()
    ]
    assert len(set(exact) & set(full)) / 10 >= 0.9


def test_semantic_dedup_survivors_on_planted_clusters(spark):
    """SemDeDup-shape semantics on planted structure: three tight semantic
    clusters plus isolated vectors -> exactly one (min-id) survivor per
    cluster, every isolated vector untouched, and each dropped vector is
    near-dup-reachable from its cluster's survivor."""
    import numpy as np
    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.operators import similarity as S
    from skiliopay_datapipeline_customer_spark.operators.dedup import survivors

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(3, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    i = 0
    for c in range(3):  # 5 near-copies per semantic cluster
        for _ in range(5):
            v = centers[c] + 0.02 * rng.normal(size=32)
            rows.append((i, [float(x) for x in v]))
            i += 1
    for _ in range(4):  # isolated vectors, mutually near-orthogonal
        v = rng.normal(size=32)
        rows.append((i, [float(x) for x in v]))
        i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = S.cosine_dup_pairs(df, threshold=0.9)
    kept = sorted(
        r.vec_id for r in survivors(df, pairs, id_col="vec_id").collect()
    )
    assert kept == [0, 5, 10, 15, 16, 17, 18]

    # dropped ids are exactly the non-min members of each planted cluster,
    # i.e. the pair list connects each of them to a smaller surviving id
    dropped = sorted(set(range(i)) - set(kept))
    assert dropped == [1, 2, 3, 4, 6, 7, 8, 9, 11, 12, 13, 14]


def test_lsh_dup_pairs_one_row_per_pair_with_duplicate_ids(spark):
    """A duplicated id in the input must not multiply output rows: the
    pair set stays one row per (id_a, id_b)."""
    import numpy as np

    from skiliopay_datapipeline_customer_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    rows.append((0, [float(x) for x in base[0]]))  # duplicated id 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.lsh_dup_pairs(df, threshold=-1.0, max_bucket_size=100).collect()
    pairs = [(r.id_a, r.id_b) for r in out]
    assert len(pairs) == len(set(pairs)) > 0


def test_lsh_fast_blas_tier_matches_expr_tier_with_measured_margin(spark, sf_dir):
    """ADVICE r8: lsh_dup_pairs_fast carries a hard hash oracle over a BLAS
    kernel that could in theory bucket differently when a projection lands
    within float error of a hyperplane. Two defenses, both asserted here so
    a numpy/BLAS/threading change fails pytest BEFORE the driver sweep:

    1. the BLAS tier's full output frame equals the expr tier's (the frame
       the DuckDB oracle replicates bit-for-bit) on the driver corpus;
    2. the smallest |projection| across every (vector, plane) pair is
       orders of magnitude above the worst-case summation-reorder error
       (dim * eps * max|term-product|), so NO sign can flip on this corpus
       regardless of BLAS accumulation order — the caveat is a measured
       margin, not a hope.
    """
    import numpy as np

    from skiliopay_datapipeline_customer_spark.io import table
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all
    from skiliopay_datapipeline_customer_spark.operators import similarity as S

    load_all()
    fast = [
        tuple(r)
        for r in QUERIES["lsh_dup_pairs_fast"](spark, sf_dir).collect()
    ]
    expr = [tuple(r) for r in QUERIES["lsh_dup_pairs"](spark, sf_dir).collect()]
    assert fast == expr and len(fast) > 0

    emb = np.array(
        [
            r["embedding"]
            for r in table(spark, sf_dir, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    planes = np.array(S.make_planes(16, emb.shape[1]), dtype=np.float64)
    proj = emb @ planes.T
    min_margin = float(np.abs(proj).min())
    # worst-case reorder error of a dim-term dot product
    worst_err = (
        emb.shape[1]
        * np.finfo(np.float64).eps
        * float(np.max(np.abs(emb)) * np.max(np.abs(planes)))
    )
    assert min_margin > 1e4 * worst_err, (min_margin, worst_err)


def test_ivf_topk_exact_full_probe_equals_brute_force(spark, sf_dir):
    """The exact-integer IVF tier with n_probe = n_centroids scans every
    inverted list, so it must equal brute-force cosine top-k exactly; a
    single probe returns a subset of real similarities (recall < 1 by
    construction, never garbage). Repeated runs must be identical
    (deterministic coarse quantizer — no RNG, no partition dependence)."""
    from skiliopay_datapipeline_customer_spark.io import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    full = [
        (r["vec_id"], r["cos_sim"])
        for r in S.ivf_topk_exact(
            emb, q, k=5, n_centroids=4, iters=2, n_probe=4
        ).collect()
    ]
    brute = [
        (r["vec_id"], r["cos_sim"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    ]
    assert full == brute
    one = [
        (r["vec_id"], r["cos_sim"])
        for r in S.ivf_topk_exact(
            emb, q, k=5, n_centroids=4, iters=2, n_probe=1
        ).collect()
    ]
    assert set(one) <= set(
        (r["vec_id"], r["cos_sim"])
        for r in S.brute_force_topk(emb, q, k=500).collect()
    )
    again = [
        (r["vec_id"], r["cos_sim"])
        for r in S.ivf_topk_exact(
            emb, q, k=5, n_centroids=4, iters=2, n_probe=1
        ).collect()
    ]
    assert one == again


def test_pq_adc_topk_exact_deterministic_and_sane(spark, sf_dir):
    """The exact-integer IVF-PQ tier: repeated runs identical (no RNG, no
    partition dependence anywhere in the pipeline), results are true
    cosine similarities (every returned (id, score) appears in the
    brute-force ranking), and the top-1 of a full-coverage configuration
    (n_probe = n_centroids, rerank >= corpus) matches brute force."""
    from skiliopay_datapipeline_customer_spark.io import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    run1 = [
        (r["vec_id"], r["cos_sim"])
        for r in S.pq_adc_topk_exact(emb, q, k=10, iters=1).collect()
    ]
    run2 = [
        (r["vec_id"], r["cos_sim"])
        for r in S.pq_adc_topk_exact(emb, q, k=10, iters=1).collect()
    ]
    assert run1 == run2 and len(run1) == 10
    brute = {
        (r["vec_id"], r["cos_sim"])
        for r in S.brute_force_topk(emb, q, k=500).collect()
    }
    assert set(run1) <= brute
    full = [
        (r["vec_id"], r["cos_sim"])
        for r in S.pq_adc_topk_exact(
            emb, q, k=5, n_centroids=4, iters=1, n_probe=4, rerank=500
        ).collect()
    ]
    assert full == [
        (r["vec_id"], r["cos_sim"])
        for r in S.brute_force_topk(emb, q, k=5).collect()
    ]


def test_lsh_dup_pairs_auto_planes_scale_with_corpus(spark, sf_dir):
    """num_planes="auto" pins expected bucket occupancy (~64 rows) so
    candidate volume stays linear in N — the r11 sf1 curve measured the
    FIXED 16/4 config superlinear (11.2x wall for a 4x corpus step).
    At sf0.01 (500 vecs) auto derives the same 4 planes/band as the
    pinned oracle config, so results must be identical; at a larger
    synthetic corpus the derived family must grow."""
    import math

    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    # sf0.01 fixture: 500 rows -> ceil(log2(500/64)) = 3 -> clamped to 4;
    # recall_anchor=0.9 reproduces the 16/4 design point exactly
    auto = S.lsh_dup_pairs(
        emb, threshold=0.8, num_planes="auto", bands=4, recall_anchor=0.9
    )
    pinned = S.lsh_dup_pairs(emb, threshold=0.8, num_planes=16, bands=4)
    a = sorted(map(tuple, auto.collect()))
    p = sorted(map(tuple, pinned.collect()))
    assert a == p, "auto at 500 rows/anchor 0.9 must equal the pinned 16/4 family"

    # default anchor = the caller's threshold (r12): 0.8 needs MORE bands
    # than the 0.9 design point (per-plane agreement 0.795 vs 0.856), and
    # since derived bands extend the same plane-offset family, the
    # verified pair set is a strict SUPERSET of the pinned one — the
    # recall the threshold actually asked for
    auto_t = S.lsh_dup_pairs(emb, threshold=0.8, num_planes="auto", bands=4)
    at = sorted(map(tuple, auto_t.collect()))
    assert set(p) <= set(at), "threshold-anchored auto must recall every pinned pair"
    assert len(at) >= len(p)

    # larger corpus -> more planes: replicate the frame 16x with shifted ids
    big = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    for k in range(1, 16):
        big = big.unionByName(
            emb.select(
                (F.col("vec_id") + 10_000_000 * (k + 1)).alias("vec_id"),
                "embedding",
            )
        )
    n_big = 16 * n
    expected_ppb = max(4, math.ceil(math.log2(n_big / 64)))
    assert expected_ppb > 4
    # runs end to end and respects the derived family (smoke: no error,
    # and the candidate machinery accepts the bigger plane count)
    out = S.lsh_dup_pairs(big, threshold=0.99, num_planes="auto", bands=4)
    assert out.columns == ["id_a", "id_b", "cos_sim"]
    out.limit(1).collect()


def test_bucket_fold_sql_equals_python_left_fold(spark):
    """The LSH banding builder (`_bucket_fold_sql`) must equal its
    definition, computed locally: per plane a sequential left fold
    acc = acc + x·h from 0.0 in element order (the IEEE add order the
    DuckDB oracles replicate), sign bit = acc > 0, bits packed
    little-endian. Vectors include the zero vector, -0.0 components
    (projection exactly ±0 → bit 0) and the float→double cast of an
    array<float> column."""
    planes = S.make_planes(6, 8)
    vecs = [
        [0.0] * 8,
        [-0.0] * 8,
        [-0.0, 0.0] * 4,
        [1.0, -0.0, 0.5, -0.25, 0.0, 2.0, -3.0, 0.125],
    ] + [
        [((i * 31 + j * 17) % 23) / 8.0 - 1.375 for j in range(8)]
        for i in range(60)
    ]
    df = spark.createDataFrame(list(enumerate(vecs)), "id long, vec array<float>")
    got = {
        r["id"]: (r["vec"], r["bucket"])
        for r in df.select(
            "id",
            "vec",
            F.expr(S._bucket_fold_sql(S._double_vec_sql("vec"), planes)).alias(
                "bucket"
            ),
        ).collect()
    }

    def fold_bucket(vec):
        out = 0
        for bit, plane in enumerate(planes):
            acc = 0.0
            for x, h in zip(vec, plane):
                acc = acc + x * h
            out += (acc > 0) << bit
        return out

    assert {i: b for i, (_, b) in got.items()} == {
        i: fold_bucket(v) for i, (v, _) in got.items()
    }
    assert got[0][1] == got[1][1] == got[2][1] == 0
    assert len({b for _, b in got.values()}) > 8
