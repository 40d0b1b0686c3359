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


def test_lsh_dup_pairs_hostile_vectors_keep_sql_semantics(spark):
    """Hostile rows get the semantics of the sequential-fold SQL form (the
    one the DuckDB oracle replays); the expected rows are that form's
    output. NaN orders above every number, so a NaN projection is bit 1
    (rows 0 and 1 land in bucket 15 of every band, as does row 8 and
    the first copy of id 9 in band 3) and a NaN cosine passes the
    threshold. A null vector, a null element or a size other than dim
    gives no bucket (rows 4-7 never pair). Id 9 appears twice: the
    near copy shares every bucket with row 8, the negated copy none, so
    (8, 9) is verified with the near copy only. A zero-norm vector in a
    verified bucket raises, as ANSI DIVIDE_BY_ZERO does."""
    import math

    import pytest

    nan = float("nan")
    v8 = [0.3, -1.2, 0.7, 2.0, -0.4, 0.9, -1.5, 0.2]
    rows = [
        (0, [nan] + [1.0] * 7),
        (1, [nan] + [2.0] * 7),
        (2, [1.0] * 8),
        (3, [1.0, 2.0] * 4),
        (4, None),
        (5, [1.0, None] + [1.0] * 6),
        (6, [1.0] * 7),
        (7, [1.0] * 9),
        (8, v8),
        (9, [x + 0.01 for x in v8]),
        (9, [-x for x in v8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.id_a, r.id_b, None if math.isnan(r.cos_sim) else r.cos_sim)
        for r in S.lsh_dup_pairs(df, threshold=0.45).collect()
    )
    assert got == [
        (0, 1, None),
        (0, 8, None),
        (0, 9, None),
        (1, 8, None),
        (1, 9, None),
        (2, 3, 0.948683),
        (8, 9, 0.999958),
    ]

    zero = spark.createDataFrame(
        [(0, [0.0] * 8), (1, [0.0] * 8), (2, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.lsh_dup_pairs(zero, threshold=0.45).collect()


def test_lsh_kernel_cosine_equals_spark_fold_bit_for_bit(spark, sf_dir):
    """The verify stage's raw cosine is Spark's dot / (norm * norm) over
    the same left folds, bit for bit, on every pair of the first 400
    fixture vectors (one group). A group over 1,024 rows verifies in row
    blocks; the blocks must cover exactly the id_a < id_b pairs of one
    unblocked fold."""
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(400)
    vecs = emb.select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    want = {
        (r[0], r[1]): r[2]
        for r in vecs.alias("a")
        .crossJoin(vecs.alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            "a.vec_id",
            "b.vec_id",
            S.cosine(F.col("a.v"), F.col("b.v")),
        )
        .collect()
    }
    assert len(want) == 400 * 399 // 2
    rows = vecs.collect()
    _, verify = S._lsh_kernel(16, 4, 64, -2.0, 10_000, "vec_id", "embedding")
    out = verify(
        pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "band": 0,
                "bucket": 0,
                "_vd": [np.array(r[1]) for r in rows],
            }
        )
    )
    got = {(a, b): c for a, b, c in zip(out.id_a, out.id_b, out._cos)}
    assert got == want

    rng = np.random.default_rng(11)
    n = 1500
    ids = rng.permutation(n) // 2 * 3  # unsorted, every id twice
    x = rng.normal(size=(n, 16))
    out = verify(
        pd.DataFrame({"vec_id": ids, "band": 0, "bucket": 0, "_vd": list(x)})
    )
    order = np.argsort(ids, kind="stable")
    ids, x = ids[order], x[order]
    dots = np.zeros((n, n))
    for d in range(16):
        dots = dots + x[:, d, None] * x[None, :, d]
    norms = np.sqrt(np.diagonal(dots))
    i, j = np.nonzero(ids[:, None] < ids[None, :])
    want_block = sorted(
        zip(ids[i], ids[j], (dots / (norms[:, None] * norms[None, :]))[i, j])
    )
    assert sorted(zip(out.id_a, out.id_b, out._cos)) == want_block


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


def test_bucket_fold_sql_equals_python_left_fold(spark, sf_dir):
    """The LSH banding builder (`_bucket_fold_sql`) must equal its
    definition, computed locally: per plane a sequential left fold
    acc = acc + x·h from 0.0 in element order (the IEEE add order the
    DuckDB oracles replicate), sign bit = acc > 0, bits packed
    little-endian. Vectors include the zero vector, -0.0 components
    (projection exactly ±0 → bit 0) and the float→double cast of an
    array<float> column. The `lsh_dup_pairs` bucketing stage must give
    the same bucket per (vector, band), on these vectors and on the
    fixture corpus plus zero and -0.0 vectors."""
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

    def kernel_equals_sql(frame, dim):
        buckets, _ = S._lsh_kernel(16, 4, dim, 0.0, 10_000, "id", "vec")
        kernel = frame.mapInPandas(
            buckets, "id long, band int, bucket long, _vd array<double>"
        ).select("id", "band", "bucket")
        sql = frame.select(
            "id",
            F.posexplode(
                F.array(
                    *[
                        F.expr(
                            S._bucket_fold_sql(
                                S._double_vec_sql("vec"),
                                S.make_planes(4, dim, plane_offset=4 * band),
                            )
                        )
                        for band in range(4)
                    ]
                )
            ).alias("band", "bucket"),
        )
        k = sorted(map(tuple, kernel.collect()))
        assert k == sorted(map(tuple, sql.collect()))
        assert len(k) == 4 * frame.count()

    kernel_equals_sql(df, 8)
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    signed_zeros = spark.createDataFrame(
        [(-1, [0.0] * 64), (-2, [-0.0] * 64), (-3, [-0.0, 0.0] * 32)],
        "id long, vec array<float>",
    )
    kernel_equals_sql(emb.unionByName(signed_zeros), 64)
