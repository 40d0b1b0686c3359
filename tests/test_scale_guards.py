"""Guards that keep the dedup/similarity/ranking tiers scale-safe:
LSH bucket-size caps, the candidate-set bound on the exact all-pairs
kernel, the full hamming-ball multiprobe expansion, and the distributed
global-rank twins of the single-task window forms."""

from __future__ import annotations

import contextlib
import os
import time

import pytest
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.io import table
from skiliopay_datapipeline_customer_spark.operators import dedup as D
from skiliopay_datapipeline_customer_spark.operators import similarity as S
from skiliopay_datapipeline_customer_spark.operators.ranks import (
    global_rank_distributed,
    quantile_bucket_distributed,
)


def _identical_docs(spark, n=200):
    text = "the same exact document body repeated verbatim across the corpus"
    return spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )


def test_minhash_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    docs = _identical_docs(spark, 200)
    # every doc lands in the same bucket in every band: capped run drops the
    # degenerate buckets entirely (exact-dedup tier owns identical content)
    capped = D.minhash_lsh_candidates(docs, max_bucket_size=100)
    assert capped.count() == 0
    # without the cap the same corpus goes quadratic: C(200,2) pairs
    uncapped = D.minhash_lsh_candidates(docs, max_bucket_size=10_000)
    assert uncapped.count() == 200 * 199 // 2


def test_minhash_lsh_cap_no_change_on_normal_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    default = D.minhash_lsh_candidates(docs)
    huge_cap = D.minhash_lsh_candidates(docs, max_bucket_size=10**9)
    a = {(r["id_a"], r["id_b"], r["n_bands"]) for r in default.collect()}
    b = {(r["id_a"], r["id_b"], r["n_bands"]) for r in huge_cap.collect()}
    assert a == b


def test_minhash_md5_tier_bucket_cap_bounds_degenerate_corpus(spark):
    """The r7 oracle-checked md5 tier shares capped_bucket_pairs with the
    xxhash64 tier — same degenerate-mass guard: a corpus of identical docs
    is dropped entirely under the cap (exact dedup owns it), quadratic
    without."""
    docs = _identical_docs(spark, 120)
    capped = D.minhash_lsh_candidates_md5(docs, max_bucket_size=100)
    assert capped.count() == 0
    uncapped = D.minhash_lsh_candidates_md5(docs, max_bucket_size=10_000)
    assert uncapped.count() == 120 * 119 // 2


def test_cosine_dup_pairs_row_cap_enforced(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="lsh_dup_pairs"):
        S.cosine_dup_pairs(emb, max_rows=10)


def test_lsh_dup_pairs_subset_of_exact_at_precision_one(spark, sf_dir):
    # testdata embeddings are near-random (max pair cosine ~0.48), so probe
    # at a threshold where true pairs exist; the LSH planes are deterministic
    # hashes, so the candidate set (and this assertion) is stable run-to-run
    emb = table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in S.cosine_dup_pairs(emb, threshold=0.4).collect()
    }
    assert len(exact) > 0
    tiered = S.lsh_dup_pairs(emb, threshold=0.4).collect()
    assert len(tiered) > 0  # recall > 0 at this similarity regime
    for r in tiered:  # precision 1: every tiered pair is a true pair
        assert (r["id_a"], r["id_b"]) in exact
        assert abs(exact[(r["id_a"], r["id_b"])] - r["cos_sim"]) < 1e-9


def test_lsh_dup_pairs_bucket_cap_drops_degenerate_mass(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = [(i, [float(x) for x in base]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = S.lsh_dup_pairs(df, threshold=0.9, max_bucket_size=10)
    assert capped.count() == 0  # all 50 share every bucket → dropped by cap
    uncapped = S.lsh_dup_pairs(df, threshold=0.9, max_bucket_size=1000)
    assert uncapped.count() == 50 * 49 // 2


def test_hamming_ball_masks_full_radius():
    masks = S.hamming_ball_masks(8, 2)
    assert len(masks) == 1 + 8 + 28  # identity + C(8,1) + C(8,2)
    assert len(set(masks)) == len(masks)
    assert all(0 <= m < 256 for m in masks)
    assert all(bin(m).count("1") <= 2 for m in masks)
    # radius clamps to the plane count
    assert len(S.hamming_ball_masks(3, 99)) == 2**3


def test_multiprobe_radius_two_expands_probe_set(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    exact = {r["vec_id"] for r in S.brute_force_topk(emb, q, k=10).collect()}
    r1 = {
        r["vec_id"]
        for r in S.lsh_topk_multiprobe(emb, q, k=10, n_probe_flips=1).collect()
    }
    r2 = {
        r["vec_id"]
        for r in S.lsh_topk_multiprobe(emb, q, k=10, n_probe_flips=2).collect()
    }
    # a radius-2 ball scans a superset of the radius-1 ball → recall vs the
    # exact top-10 can only improve
    assert len(r2 & exact) >= len(r1 & exact)
    assert 0 in r2


def test_global_rank_distributed_matches_single_window(spark, sf_dir):
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    dist = global_rank_distributed(
        orders, ["o_orderdate", "o_orderkey"], rank_col="r"
    )
    w = Window.orderBy("o_orderdate", "o_orderkey")
    single = orders.select("o_orderkey", F.row_number().over(w).alias("r"))
    a = {(x["o_orderkey"], x["r"]) for x in dist.select("o_orderkey", "r").collect()}
    b = {(x["o_orderkey"], x["r"]) for x in single.collect()}
    assert a == b


def test_quantile_bucket_distributed_matches_parity_form(spark, sf_dir):
    # the PARITY form (single global window) is the ground truth the
    # distributed primaries are judged against
    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        quantile_bucket_parity,
    )

    cust = table(spark, sf_dir, "customer")
    exact = quantile_bucket_parity(
        cust, "c_acctbal", [1, 2, 3, 4, 5], ascending=True, tiebreak="c_custkey", out="qb"
    )
    dist = quantile_bucket_distributed(
        cust, "c_acctbal", [1, 2, 3, 4, 5], ascending=True, tiebreak="c_custkey", out="qb"
    )
    a = {(r["c_custkey"], r["qb"]) for r in exact.select("c_custkey", "qb").collect()}
    b = {(r["c_custkey"], r["qb"]) for r in dist.select("c_custkey", "qb").collect()}
    assert a == b


def test_quantile_bucket_distributed_degenerate_cardinality(spark):
    df = spark.createDataFrame(
        [(i, 42.0) for i in range(10)], "user_id long, v double"
    )
    out = quantile_bucket_distributed(df, "v", [5, 4, 3, 2, 1], ascending=False)
    vals = {r["v_q"] for r in out.collect()}
    assert vals == {1}  # constant column → everyone gets the fill label


def test_global_cumsum_distributed_matches_single_window(spark, sf_dir):
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_cumsum_distributed,
    )

    orders = table(spark, sf_dir, "orders")
    # integer values: distributed partial sums are EXACTLY the sequential
    # window (long addition is associative); doubles differ by fp rounding
    # order like any distributed sum, checked with tolerance below
    dist = global_cumsum_distributed(
        orders, ["o_orderkey"], "o_custkey", out="cs"
    )
    w = (
        Window.orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    single = orders.select("o_orderkey", F.sum("o_custkey").over(w).alias("cs"))
    a = {(r["o_orderkey"], r["cs"]) for r in dist.select("o_orderkey", "cs").collect()}
    b = {(r["o_orderkey"], r["cs"]) for r in single.collect()}
    assert a == b

    dist_d = {
        r["o_orderkey"]: r["cs"]
        for r in global_cumsum_distributed(
            orders, ["o_orderkey"], "o_totalprice", out="cs"
        ).collect()
    }
    single_d = {
        r["o_orderkey"]: r["cs"]
        for r in orders.select(
            "o_orderkey", F.sum("o_totalprice").over(w).alias("cs")
        ).collect()
    }
    for k, v in single_d.items():
        assert abs(dist_d[k] - v) <= 1e-9 * max(1.0, abs(v))


def test_pack_by_token_budget_respects_offsets(spark):
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        pack_by_token_budget,
    )

    df = spark.createDataFrame(
        [(i, 40) for i in range(10)], "doc_id long, n long"
    )
    packed = pack_by_token_budget(df, 100, "n", ["doc_id"])
    rows = {r["doc_id"]: r["pack_id"] for r in packed.collect()}
    # offsets 0,40,80,120,... → packs 0,0,0,1,1,2,2,2,3,3
    assert [rows[i] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # each pack holds 2-3 docs; a straddler (offset 80) stays in pack 0
    import collections

    counts = collections.Counter(rows.values())
    assert all(2 <= c <= 3 for c in counts.values())


def test_connected_components_chain_and_islands(spark):
    """Label propagation must follow CHAINS (A~B, B~C without A~C) and keep
    islands separate — the topology a group-by-key dedup cannot express."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster"] for r in D.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_null_edges_dropped_in_both_tiers(spark):
    """NULL pair ids carry no adjacency (SQL join semantics) and used to
    crash the driver union-find tier (sorted over None); both tiers must
    drop them and agree."""
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (None, None), (2, 5)],
        "id_a long, id_b long",
    )
    small = {
        r["node"]: r["cluster"] for r in D.connected_components(pairs).collect()
    }
    big = {
        r["node"]: r["cluster"]
        for r in D.connected_components(pairs, small_graph_threshold=0).collect()
    }
    assert small == big == {1: 1, 2: 1, 5: 1}


def test_connected_components_long_path_past_checkpoint_interval(spark):
    """A path graph needs ~diameter rounds — length 12 crosses the
    localCheckpoint interval (5) twice, so convergence exercises the
    lineage-truncation path, not just the persist path."""
    n = 13
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, checkpoint_interval=5, small_graph_threshold=0
        ).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_nonconvergence_raises(spark):
    """Exiting the loop with labels still changing must be LOUD: silent
    partial labels would merge/split dedup clusters wrongly downstream."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(pairs, max_iters=3, small_graph_threshold=0)
    # non-strict tier: warn and hand back the partial labels
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = D.connected_components(
            pairs, max_iters=3, strict=False, small_graph_threshold=0
        )
    assert partial.count() == 20


def test_quantize_int8_constant_dimension_guard(spark):
    """A constant dimension (max == min) must code to 0, not NULL-divide."""
    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [2.0, 5.0]), (2, [3.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        (r["vec_id"], r["dim"]): r["code"]
        for r in S.quantize_embeddings_int8(df).collect()
    }
    assert rows[(0, 1)] == rows[(1, 1)] == rows[(2, 1)] == 0
    assert rows[(0, 0)] == 0 and rows[(2, 0)] == 255
    assert all(c is not None for c in rows.values())


def test_word_shingles_short_docs_match_oracle_semantics(spark):
    """Docs shorter than n tokens have NO n-shingles — same as the oracles'
    range(0, len - n + 1), which is empty for short docs."""
    import duckdb

    texts = ["one two", "one", "", "one two three", "one two three four"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: sorted(r["sh"])
        for r in df.select(
            "doc_id", D.word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    con = duckdb.connect()
    want = {}
    for i, t in enumerate(texts):
        (sh,) = con.execute(
            """
            SELECT list_transform(range(0, len(t) - 2),
                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
            FROM (SELECT string_split_regex(trim(lower(?)), '\\s+') AS t)
            """,
            [t],
        ).fetchone()
        want[i] = sorted(sh)
    con.close()
    assert got == want


def test_lsh_dup_pairs_recall_on_planted_near_dups(spark):
    """The numpy-kernel production tier must find ≥ 90% of the true
    near-dup pairs (recall vs the exact all-pairs tier) on a corpus with
    PLANTED near-duplicates — the workload the operator exists for."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 16))
    jitter = base[:50] + 0.02 * rng.normal(size=(50, 16))
    vecs = np.vstack([base, jitter])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(exact) >= 50  # the plant worked
    lsh = {
        (r["id_a"], r["id_b"])
        for r in S.lsh_dup_pairs(df, threshold=0.95).collect()
    }
    assert lsh <= exact  # exact verify keeps precision at 1
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"recall {recall:.3f} below 0.9"


def test_interval_join_plan_is_hash_join_not_nested_loop(spark, sf_dir):
    """The bin-bucketed range join must plan as an equi-join on (key, bin) —
    a nested-loop/cartesian plan would be the per-key cross product the
    operator exists to avoid."""
    from skiliopay_datapipeline_customer_spark.queries.temporal import (
        session_purchase_attribution,
    )

    plan = (
        session_purchase_attribution(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_group_top_fraction_plan_has_no_global_window(spark, sf_dir):
    """The per-group quality gate must never plan a partition-less window
    (single-task sort): ranks come from the range-partitioned two-pass
    form, whose windows are keyed by spark_partition_id."""
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        group_top_fraction,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("score")
    )
    kept = group_top_fraction(docs, "lang", "score", "doc_id")
    # every windowspecdefinition in the optimized plan must key on _pid
    opt = kept._jdf.queryExecution().optimizedPlan().toString()
    window_lines = [
        line for line in opt.splitlines() if "windowspecdefinition" in line
    ]
    assert window_lines, "expected a window in the two-pass rank plan"
    for line in window_lines:
        assert "_pid" in line, line


def test_stratified_sample_plan_is_shuffle_free(spark, sf_dir):
    """Mixture sampling is a pure narrow filter — any Exchange in the plan
    would mean the operator shuffles 100 TB to drop rows."""
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        stratified_sample,
    )

    kept = stratified_sample(
        table(spark, sf_dir, "documents"), "lang", {"en": 25, "de": 75}
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_single_fact_scan_tpch_rewrites(spark, sf_dir):
    """Q15/Q20/Q21 were restructured so the lineitem fact is scanned once
    (the naive scalar-subquery / re-aggregate forms scanned it twice with
    no ReusedExchange). Guard the single-scan property."""
    from skiliopay_datapipeline_customer_spark.queries.tpch import (
        top_revenue_supplier,
        volume_part_suppliers,
        waiting_suppliers,
    )

    for fn in (top_revenue_supplier, volume_part_suppliers, waiting_suppliers):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") == 1, fn.__name__


def test_weighted_sample_plan_is_sort_limit_not_window(spark, sf_dir):
    """Efraimidis–Spirakis selection must be TakeOrderedAndProject
    (per-partition top-k + merge), never a global window/sort."""
    from skiliopay_datapipeline_customer_spark.queries.corpus import (
        weighted_doc_sample,
    )

    df = weighted_doc_sample(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """100 TB posture: a selective dim-side filter should inject a runtime
    bloom filter on the fact side of a shuffle join (Spark's runtime row
    filtering), so fact rows that cannot join die at the scan. Local data is
    far below the production thresholds, so the test lowers them; production
    keeps the defaults and gets this automatically on TB-scale joins."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500_000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy()
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_declared_query_plans_a_cartesian_product(spark, sf_dir):
    """Repo-wide anti-pattern sweep: no declared query may plan a
    CartesianProduct (an unconditioned shuffle-side cross join — the
    O(n·m) cliff at scale). Broadcast nested-loop joins against
    scalar/metadata-sized frames are legitimate and NOT flagged."""
    from skiliopay_datapipeline_customer_spark.queries import all_queries

    offenders = []
    for name, fn in all_queries().items():
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # noqa: BLE001 — planning must not crash
            offenders.append((name, f"planning failed: {str(e)[:80]}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_multi_column_cumsum_matches_single_window(spark):
    """global_cumsums_distributed: k running sums in ONE range pass equal
    the single-window transcription for every column."""
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_cumsums_distributed,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 13, float((i * 3) % 5)) for i in range(500)],
        "k long, a long, b double",
    )
    got = {
        r.k: (r.ca, r.cb)
        for r in global_cumsums_distributed(
            df, [F.col("k")], {"a": "ca", "b": "cb"}, num_partitions=8
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r.k: (r.ca, r.cb)
        for r in df.select(
            "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        ).collect()
    }
    assert got == want


def test_rolling_dau_sketch_tier_tracks_exact(spark, sf_dir):
    """The documented sketch tier for sliding-window distinct counts:
    approx_count_distinct per target day stays within HLL's error band
    (rsd 0.05 → a few %) of the exact rolling count."""
    from skiliopay_datapipeline_customer_spark.queries.analytics import (
        rolling_7d_active_users,
    )

    ev = table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").cast("long").alias("d"),
    ).distinct()
    d1 = pairs.agg(F.max("d")).first()[0]
    contrib = pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("target_d"),
    ).filter(F.col("target_d") <= d1)
    approx = {
        r.target_d: r.a
        for r in contrib.groupBy("target_d")
        .agg(F.approx_count_distinct("user_id", rsd=0.05).alias("a"))
        .collect()
    }
    exact = {r.d: r.active_7d for r in rolling_7d_active_users(spark, sf_dir).collect()}
    assert set(approx) == set(exact)
    for d, n in exact.items():
        assert abs(approx[d] - n) <= max(3, 0.15 * n), (d, approx[d], n)


def test_registry_rotation_invariants():
    """The rotation policy only works if its inputs stay coherent: every
    _PRIORITY/_FORCE name must be a registered query (a stale name would
    silently misorder the driver's verification window), _PRIORITY must be
    duplicate-free (a later duplicate overwrites the intended slot), and
    the needs-a-row pool must still fill the 50-slot window."""
    from skiliopay_datapipeline_customer_spark import queries as q

    q.load_all()
    assert len(q._PRIORITY) == len(set(q._PRIORITY)), "duplicate in _PRIORITY"
    unknown_p = [n for n in q._PRIORITY if n not in q.QUERIES]
    unknown_f = [n for n in q._FORCE if n not in q.QUERIES]
    assert not unknown_p, f"stale _PRIORITY names: {unknown_p}"
    assert not unknown_f, f"stale _FORCE names: {unknown_f}"
    order = q._rotated(list(q.QUERIES))
    assert len(order) == len(q.QUERIES)
    assert len(set(order)) == len(order)


def test_plan_digest_reports_shapes_and_smells(spark, sf_dir):
    """plan_digest turns .explain('formatted') into assertable counts: the
    flagship broadcasts its dims with no cartesian/smells; an un-partitioned
    window and a cross join are flagged."""
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.plans.report import plan_digest
    from skiliopay_datapipeline_customer_spark.queries import QUERIES, load_all

    load_all()
    d = plan_digest(QUERIES["flagship_revenue_by_nation"](spark, sf_dir))
    assert d["broadcast_joins"] >= 1           # dims broadcast
    assert d["nested_loop_joins"] == 0 and not d["has_cartesian"]
    assert d["pushed_filters"] >= 1            # predicates reach the scan
    assert d["whole_stage_codegen"] >= 1       # fused pipelines exist
    assert not d["single_partition_window"]

    ev = table(spark, sf_dir, "events")
    w = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("event_id"))
    )
    assert plan_digest(w)["single_partition_window"]
    wp = ev.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy("event_id")),
    )
    assert not plan_digest(wp)["single_partition_window"]
    assert plan_digest(ev.limit(3).crossJoin(ev.limit(2)))["has_cartesian"]


def test_partition_filter_strip_excludes_dpp_only_lists():
    """A PartitionFilters list holding ONLY dynamic-partition-pruning noise
    (isnotnull + dynamicpruningexpression(...) — nested parens included)
    must not count as caller-written pruning; a real predicate next to the
    DPP entry still does."""
    from skiliopay_datapipeline_customer_spark.plans.report import (
        _has_caller_partition_filter,
    )

    dpp_only = (
        "isnotnull(o_orderpriority#7), "
        "dynamicpruningexpression(o_orderpriority#7 IN dynamicpruning#42 "
        "[id=#12, subquery(exists(x#3))])"
    )
    assert not _has_caller_partition_filter(dpp_only)
    assert not _has_caller_partition_filter(
        "dynamicpruningexpression(cast(p#1 as int) IN subquery#9)"
    )
    assert _has_caller_partition_filter(
        dpp_only + ", (o_orderpriority#7 = 1-URGENT)"
    )
    assert not _has_caller_partition_filter("isnotnull(p#1)")
    assert _has_caller_partition_filter("(p#1 = 3)")


def test_partition_filter_capture_survives_bracketed_dpp_entries():
    """Plan-TEXT extraction (not just the stripped-string helper): the DPP
    render nests ``]`` inside the PartitionFilters list
    (``[id=#12, subquery(...)]``), so a first-``]``-terminated regex capture
    truncates away a caller predicate listed AFTER the DPP entry. The
    bracket-balanced capture must keep it."""
    from skiliopay_datapipeline_customer_spark.plans.report import (
        _bracket_payloads,
        _has_caller_partition_filter,
    )

    plan_text = (
        "(3) Scan parquet\n"
        "Output [2]: [o_orderkey#1, o_orderpriority#7]\n"
        "PartitionFilters: [isnotnull(o_orderpriority#7), "
        "dynamicpruningexpression(o_orderpriority#7 IN dynamicpruning#42 "
        "[id=#12, subquery(exists(x#3))]), (o_orderpriority#7 = 1-URGENT)]\n"
        "PushedFilters: [IsNotNull(o_orderkey)]\n"
    )
    payloads = _bracket_payloads(plan_text, "PartitionFilters")
    assert len(payloads) == 1
    # the caller predicate after the bracketed DPP entry survives capture...
    assert "(o_orderpriority#7 = 1-URGENT)" in payloads[0]
    # ...and the composed check counts it as caller-written pruning
    assert _has_caller_partition_filter(payloads[0])
    # a DPP-only list captured the same way still does not count
    dpp_only_text = plan_text.replace(", (o_orderpriority#7 = 1-URGENT)", "")
    (payload,) = _bracket_payloads(dpp_only_text, "PartitionFilters")
    assert not _has_caller_partition_filter(payload)
    # PushedFilters capture unaffected
    assert _bracket_payloads(plan_text, "PushedFilters") == [
        "IsNotNull(o_orderkey)"
    ]


def test_connected_components_tiers_agree(spark):
    """Small-graph union-find tier == distributed propagation on the same
    graph (labels are min reachable id either way)."""
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 3), (100, 101)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        r["node"]: r["cluster"]
        for r in D.connected_components(pairs).collect()
    }
    dist = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, small_graph_threshold=0
        ).collect()
    }
    assert fast == dist and len(fast) > 0


def test_star_contraction_converges_on_high_diameter_chain(spark):
    """The pathological graph for min-label propagation: a 300-node path
    (diameter 299 ≫ max_iters 25). Propagation's strict tier raises with
    the star-contraction recommendation; method='star' converges in
    O(log² n) rounds on the SAME budget and labels every node with the
    component minimum. small_graph_threshold=0 forces both distributed
    tiers (the driver union-find would otherwise absorb the graph)."""
    import pytest

    chain = [(i, i + 1) for i in range(299)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="method='star'"):
        D.connected_components(
            pairs, small_graph_threshold=0, max_iters=25, strict=True
        )
    labels = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, small_graph_threshold=0, max_iters=25, method="star"
        ).collect()
    }
    assert labels == {i: 0 for i in range(300)}


def test_star_contraction_agrees_with_union_find(spark):
    """method='star' == driver union-find on a mixed graph: several
    components, a cycle, duplicate + reversed edges, self-loops, and an
    isolated self-loop-only node (must label itself)."""
    edges = (
        [(i, i + 1) for i in range(0, 40, 2)]
        + [(1, 3), (100, 101), (101, 102), (102, 100)]  # cycle
        + [(3, 1), (1, 3)]  # reversed + duplicate
        + [(200, 200)]  # self-loop-only node
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {
        r["node"]: r["cluster"] for r in D.connected_components(pairs).collect()
    }
    star = {
        r["node"]: r["cluster"]
        for r in D.connected_components(
            pairs, small_graph_threshold=0, method="star"
        ).collect()
    }
    assert star == fast and star[200] == 200 and star[102] == 100


def test_connected_components_rejects_unknown_method(spark):
    import pytest

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="propagation|star"):
        D.connected_components(pairs, method="bogus")


def test_rotation_reacts_to_correctness_history(tmp_path, monkeypatch):
    """The verification window must move with the audit trail: a green
    driver row rotates a query out of the needs-a-row pool, a FAILED row
    does not (it rotates straight back in after the fix), and the weaker
    rows-only contract check (err="no_oracle") counts as that query's
    verification. Hermetic: REPO_ROOT patched to a synthetic artifact dir
    so the repo's real CORRECTNESS history never leaks in."""
    import json as _json

    from skiliopay_datapipeline_customer_spark import artifacts
    from skiliopay_datapipeline_customer_spark import queries as q

    q.load_all()
    monkeypatch.setattr(artifacts, "REPO_ROOT", str(tmp_path))
    base = q._rotated(list(q.QUERIES))
    a, b, c = [n for n in base if n not in q._FORCE][:3]

    # green oracle row for `a` → drops behind the never-verified pool
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        _json.dumps({a: {"err": None, "hash_match": True}})
    )
    order = q._rotated(list(q.QUERIES))
    assert order.index(a) > order.index(b)

    # a FAILED row for `b` is NOT verification — `b` stays in the pool
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        _json.dumps({b: {"err": "AnalysisException: boom", "hash_match": None}})
    )
    order = q._rotated(list(q.QUERIES))
    assert order.index(b) < order.index(a)

    # rows-only contract check rotates out like a green row...
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        _json.dumps({c: {"err": "no_oracle", "rows_match": None}})
    )
    order = q._rotated(list(q.QUERIES))
    assert order.index(c) > order.index(b)
    # ...and verified queries order oldest-green-first behind the pool
    assert order.index(a) < order.index(c)


def _needs_row(q, name: str, last: dict[str, int]) -> bool:
    lv = last.get(name, -1)
    return lv < 0 or (name in q._FORCE and lv <= q._FORCE[name])


def test_rotation_hands_off_remaining_pool_to_next_window(
    tmp_path, monkeypatch
):
    """The r4-verdict handoff contract: once THIS round's 50-slot window
    goes green, every remaining never-driver-verified ORACLE query must
    land inside the NEXT round's window (post-r07 state: the 11-query
    oracle remainder plus the r07 oracle upgrades — 14 names — all take
    r08 slots). Built from the repo's real CORRECTNESS history plus a
    synthetic next-round artifact, so the assertion tracks the live pool
    as rounds land instead of rotting against a hard-coded list."""
    import glob as _glob
    import json as _json
    import shutil as _shutil

    from skiliopay_datapipeline_customer_spark import artifacts
    from skiliopay_datapipeline_customer_spark import queries as q

    q.load_all()
    real = sorted(_glob.glob(str(artifacts.REPO_ROOT) + "/CORRECTNESS_r*.json"))
    rounds = []
    for p in real:
        _shutil.copy(p, tmp_path)
        rounds.append(int(p.rsplit("_r", 1)[1].split(".")[0]))
    monkeypatch.setattr(artifacts, "REPO_ROOT", str(tmp_path))

    window = q._rotated(list(q.QUERIES))[:50]
    oracles = set(q.ORACLES)
    # synthetic "this round": every window slot verified (oracle rows for
    # oracle queries, the weaker rows-only contract rows otherwise)
    nxt = max(rounds, default=0) + 1
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(
        _json.dumps(
            {
                n: (
                    {"err": None, "hash_match": True}
                    if n in oracles
                    else {"err": "no_oracle", "rows_match": None}
                )
                for n in window
            }
        )
    )
    last = q._last_verified()
    remaining = [
        n for n in q.QUERIES if n in oracles and _needs_row(q, n, last)
    ]
    # the pool must have shrunk below one window — the whole point of the
    # rotation is that the sweep FINISHES
    assert len(remaining) <= 50, (
        f"{len(remaining)} never-verified oracle queries can't fit one "
        "window; the sweep would not finish next round"
    )
    next_window = q._rotated(list(q.QUERIES))[:50]
    missed = [n for n in remaining if n not in next_window]
    assert not missed, f"oracle queries denied a next-window slot: {missed}"
    # pin today's expectation: the r07 upgrades ride along with the remainder
    for name in ("minhash_lsh_candidates", "lsh_dup_pairs_fast",
                 "order_trend_pandas"):
        lv = q._last_verified().get(name, -1)
        if lv < 0 or (name in q._FORCE and lv <= q._FORCE[name]):
            assert name in next_window


def test_rank_exact_under_exchange_reuse_disabled(spark):
    """Regression for the r9 wrong-results class: with `_pid` derived from
    `spark_partition_id()` after `repartitionByRange`, a planner that
    declines exchange reuse re-samples range boundaries per branch, and
    offsets key against the wrong partition population (measured r9 on
    dsir_deciles_distributed at sf0.1: tile sizes 430-559 where every tile
    is exactly 500). This test PLANTS that shape — join-derived lineage,
    `spark.sql.exchange.reuse.enabled=false` so the two branches MUST
    recompute independently — and asserts exact tiles; the shipping form
    passes because `_pid` is a pure expression of frozen boundary
    literals, identical in both branches by construction."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        ntile_distributed,
    )

    conf = spark.conf
    prev = conf.get("spark.sql.exchange.reuse.enabled", "true")
    try:
        conf.set("spark.sql.exchange.reuse.enabled", "false")
        n, q = 5000, 10
        scores = spark.range(n).select(
            F.col("id"),
            (F.sin(F.col("id").cast("double")) * 1000).alias("w"),
        )
        langs = spark.range(n).select(
            F.col("id"), (F.col("id") % 7).cast("string").alias("lang")
        )
        joined = scores.join(langs, "id")  # the join-derived lineage shape
        tiled = ntile_distributed(
            joined, [("w", "desc"), ("id", "asc")], q, out="t",
            num_partitions=8,
        )
        sizes = {
            r["t"]: r["c"]
            for r in tiled.groupBy("t").agg(F.count("*").alias("c")).collect()
        }
        assert sizes == {i: n // q for i in range(1, q + 1)}, sizes
        # ranks must also be a gap-free permutation of 1..n, not just
        # even tiles
        from skiliopay_datapipeline_customer_spark.operators.ranks import (
            global_rank_distributed as grd,
        )

        ranked = grd(joined, [("w", "desc"), ("id", "asc")], rank_col="r",
                     num_partitions=8)
        agg = ranked.agg(
            F.count("*").alias("n"),
            F.countDistinct("r").alias("u"),
            F.min("r").alias("lo"),
            F.max("r").alias("hi"),
        ).first()
        assert (agg["n"], agg["u"], agg["lo"], agg["hi"]) == (n, n, 1, n)
        # and the divergence channel itself must be gone: no physical
        # partition id, no checkpoint pin anywhere in the rank plan
        plan = ranked._jdf.queryExecution().toString()
        assert "SPARK_PARTITION_ID" not in plan.upper()
        assert "Checkpoint" not in plan
    finally:
        conf.set("spark.sql.exchange.reuse.enabled", prev)


def test_rank_boundary_semantics_nulls_nans_unicode(spark):
    """The boundary comparisons (`_bucket_pid_sql`'s strictly-after tests
    and `_cmp_vals`) must match Spark's sort semantics exactly — NULL
    first in asc / last in desc, NaN greater than every number, UTF-8
    binary string order — or rows near a sampled boundary get bucketed
    inconsistently with the window order and ranks go wrong. Cross-checked against the single-window form over a
    corpus salted with nulls, NaNs, duplicates, and non-ASCII keys, both
    directions."""
    import math

    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_rank_distributed,
    )

    rows = []
    for i in range(400):
        v = None if i % 17 == 0 else (
            float("nan") if i % 23 == 0 else float((i * 7919) % 97) / 3.0
        )
        s = ["alpha", "Ärger", "zèbre", "中文", "beta"][i % 5] + str(i % 11)
        rows.append((i, v, s))
    df = spark.createDataFrame(rows, "id long, v double, s string")

    for spec, wcols in [
        ([("v", "asc"), ("s", "asc"), ("id", "asc")],
         [F.col("v").asc(), F.col("s").asc(), F.col("id").asc()]),
        ([("v", "desc"), ("s", "desc"), ("id", "asc")],
         [F.col("v").desc(), F.col("s").desc(), F.col("id").asc()]),
        ([("s", "asc"), ("id", "asc")],
         [F.col("s").asc(), F.col("id").asc()]),
    ]:
        got = {
            r["id"]: r["r"]
            for r in global_rank_distributed(
                df, spec, rank_col="r", num_partitions=8
            ).collect()
        }
        want = {
            r["id"]: r["r"]
            for r in df.withColumn(
                "r", F.row_number().over(Window.orderBy(*wcols))
            ).collect()
        }
        assert got == want, f"spec={spec}"


def _all_key_types_frame(spark, n=600):
    """Adversarial rank input over every key type the SQL literal renderer
    covers: nulls, NaN, negative floats, unicode strings with quotes and
    backslashes, Decimal, date, binary (bytes above 0x7f), timestamp_ntz,
    and LTZ timestamps on the America/New_York fall-back hour (05:00-07:00
    UTC covers 01:00 EDT through 01:59 EST, the repeated wall-clock
    hour)."""
    rows = []
    for i in range(n):
        v = None if i % 13 == 0 else (
            float("nan") if i % 19 == 0 else float((i * 7919) % 83) / 7.0 - 5.0
        )
        s = ["al'pha", "Är\\ger", "zèbre", "中文", "be' \\ ta"][i % 5] + str(i % 9)
        rows.append((i, v, s))
    return spark.createDataFrame(rows, "id long, v double, s string").withColumns(
        {
            "d": F.expr(
                "CASE WHEN id % 11 = 0 THEN NULL "
                "ELSE CAST((id * 31) % 47 / 8.0 - 2 AS DECIMAL(10,3)) END"
            ),
            "dd": F.expr("date_add(DATE'2021-03-14', CAST((id * 13) % 29 AS INT))"),
            "b": F.expr(
                "CASE WHEN id % 17 = 0 THEN NULL "
                "ELSE unhex(substr(sha2(CAST(id % 37 AS STRING), 256), 1, 4)) END"
            ),
            "tn": F.expr(
                "make_timestamp_ntz(2021, 11, 7, 1, CAST((id * 7) % 60 AS INT), "
                "CAST(id % 7 AS DECIMAL(8,6)) + 0.5)"
            ),
            "tl": F.expr(
                "CASE WHEN id % 23 = 0 THEN NULL ELSE timestamp_micros("
                "1636261200000000L + ((id * 7919) % 7200) * 1000000L + id) END"
            ),
        }
    )


@contextlib.contextmanager
def _dst_time_zone(spark, tz="America/New_York"):
    """Run with a DST zone as BOTH the Spark session time zone and the
    driver process's local zone (PySpark collects LTZ timestamps as naive
    local datetimes, so the process zone decides what a collected value
    loses)."""
    conf = spark.conf
    prev_tz = conf.get("spark.sql.session.timeZone")
    prev_env = os.environ.get("TZ")
    conf.set("spark.sql.session.timeZone", tz)
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        conf.set("spark.sql.session.timeZone", prev_tz)
        if prev_env is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_env
        time.tzset()


_ALL_KEY_SPECS = (
    [("v", "asc"), ("s", "asc"), ("id", "asc")],
    [("v", "desc"), ("s", "desc"), ("id", "asc")],
    [("s", "asc"), ("id", "desc")],
    [("d", "asc"), ("id", "asc")],
    [("dd", "desc"), ("b", "asc"), ("id", "asc")],
    [("b", "desc"), ("id", "asc")],
    [("tn", "asc"), ("id", "desc")],
    [("tl", "desc"), ("id", "asc")],
    [("tl", "asc"), ("d", "desc"), ("id", "asc")],
)


def test_bucket_pid_sql_equals_python_count(spark):
    """The SQL bucket id (a binary when-tree of strictly-after tests over
    rendered boundary literals) must equal its DEFINITION: the number of
    boundary tuples the row sorts strictly after, counted in pure Python
    with `_cmp_tuples` (Spark's NULL-first/NaN-last sort order). The
    tree is only valid if that count is binary-searchable, and the
    literals only if every type renders exactly — so run it on boundaries
    that contain nulls, NaN, quotes/backslashes and every rendered key
    type (LTZ timestamps compared as epoch micros, like the sample) —
    under a DST time zone, with LTZ keys on the fall-back hour, where a
    wall-clock rendering of a boundary is ambiguous."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        _bucket_pid_sql,
        _cmp_tuples,
        _collect_boundaries,
        _normalize_order_spec,
        _sample_keys,
    )

    with _dst_time_zone(spark):
        df = _all_key_types_frame(spark)
        for spec in _ALL_KEY_SPECS:
            norm = _normalize_order_spec(spec)
            [(bnds, types)] = _collect_boundaries(df, [norm], 16)
            if spec[0][0] == "v":
                # the sample over this salted frame must include the
                # adversarial classes, or the equivalence below proves
                # less
                assert any(b[0] is None or b[0] != b[0] for b in bnds), bnds
            cmp_t = _cmp_tuples(norm)
            # id is the last key of every spec, so each sampled tuple
            # names its row
            keys, _ = _sample_keys(df, norm)
            want = {
                row[-1]: sum(cmp_t(row, b) > 0 for b in bnds)
                for row in map(tuple, keys.collect())
            }
            names = [f"__rk{i}" for i in range(len(norm))]
            pid = F.expr(_bucket_pid_sql(names, norm, bnds, types))
            keyed = df.withColumns({n: c for n, (c, _) in zip(names, norm)})
            got = {r["id"]: r["pid"] for r in keyed.select("id", pid.alias("pid")).collect()}
            assert got == want, spec
            assert len(set(got.values())) > 4, spec


def _lit_strictly_after(norm, boundary):
    """Column-API oracle for one strictly-after test: literals come from
    `F.lit` (JVM-side typed values, never SQL text), so comparing the SQL
    tree against it pins `sql_literal`'s rendering as well as the tree."""
    after, eq = F.lit(False), F.lit(True)
    for (c, asc), b in zip(norm, boundary):
        if b is None:
            ak = c.isNotNull() if asc else F.lit(False)
            ek = c.isNull()
        else:
            lit = F.lit(b)
            ak = F.coalesce(c > lit if asc else c < lit, F.lit(not asc))
            ek = F.coalesce(c == lit, F.lit(False))
        after = after | (eq & ak)
        eq = eq & ek
    return after


def _sql_pid_vs(df, norm, bnds, types, ref):
    """Frame of (sqlpid, ref) over `df`, the SQL tree evaluated on the
    same temp-named key projection `_range_bucketed` uses."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import _bucket_pid_sql

    names = [f"__rk{i}" for i in range(len(norm))]
    keyed = df.withColumns({n: c for n, (c, _) in zip(names, norm)})
    return keyed.select(
        F.expr(_bucket_pid_sql(names, norm, bnds, types)).alias("sqlpid"),
        ref.alias("ref"),
    )


def test_bucket_pid_tree_equals_linear_count(spark):
    """The bucket id is a binary when-tree (r12: compile 4.3 s → 1.1 s,
    per-row eval halved vs the linear sum of strictly-after tests). The
    tree is only valid if the boundary count is binary-searchable —
    i.e. strictly-after is transitive over the sorted, deduplicated
    boundary list INCLUDING null/NaN/unicode boundary values. Pin the
    tree against the definitional linear count on an adversarial frame
    whose sampled boundaries contain exactly those values."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        _collect_boundaries,
        _normalize_order_spec,
    )

    df = _all_key_types_frame(spark).select("id", "v", "s")
    for spec in _ALL_KEY_SPECS[:2]:
        norm = _normalize_order_spec(spec)
        [(bnds, types)] = _collect_boundaries(df, [norm], 16)
        # boundary sample over this salted frame must include the
        # adversarial classes, or the equivalence below proves less
        assert any(b[0] is None or b[0] != b[0] for b in bnds), bnds
        linear = F.lit(0)
        for t in bnds:
            linear = linear + _lit_strictly_after(norm, t).cast("int")
        got = _sql_pid_vs(df, norm, bnds, types, linear)
        assert got.where(F.col("sqlpid") != F.col("ref")).count() == 0, spec
        # tree output must span multiple buckets (not degenerate)
        assert got.select("sqlpid").distinct().count() > 4, spec


def test_bucket_pid_sql_equals_column_tree(spark):
    """The SQL-text when-tree (parsed JVM-side in one round trip) must
    produce the IDENTICAL bucket id as the same tree built with the
    Column API over `F.lit` literals, on adversarial boundaries: nulls,
    NaN, unicode strings, quotes/backslashes in string boundaries,
    negative and integral floats, Decimal, date and binary keys (bytes
    above 0x7f). Any literal `sql_literal` renders inexactly moves a
    row across a boundary and shows here."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        _collect_boundaries,
        _normalize_order_spec,
    )

    df = _all_key_types_frame(spark)
    for spec in _ALL_KEY_SPECS[:6]:
        norm = _normalize_order_spec(spec)
        [(bnds, types)] = _collect_boundaries(df, [norm], 16)
        conds = [_lit_strictly_after(norm, b) for b in bnds]

        def tree(lo, hi):
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(conds[mid], tree(mid + 1, hi)).otherwise(tree(lo, mid))

        got = _sql_pid_vs(df, norm, bnds, types, tree(0, len(bnds)))
        assert got.where(F.col("sqlpid") != F.col("ref")).count() == 0, spec
        assert got.select("sqlpid").distinct().count() > 4, spec


def test_rank_all_key_types_equal_window_form_under_dst_timezone(spark):
    """global_rank_distributed over Decimal, date, binary, timestamp_ntz
    and LTZ-timestamp keys equals the single-window row_number form —
    with a DST session time zone (and a DST driver-process zone) while
    the LTZ keys sit on the fall-back hour, where a wall-clock rendering
    of a boundary is ambiguous and a naive collected datetime drops the
    fold."""
    from pyspark.sql import Window

    with _dst_time_zone(spark):
        df = _all_key_types_frame(spark)
        # the double/string specs are test_rank_boundary_semantics_*'s
        for spec in _ALL_KEY_SPECS[3:]:
            got = {
                r["id"]: r["r"]
                for r in global_rank_distributed(
                    df, spec, rank_col="r", num_partitions=8
                ).collect()
            }
            window = Window.orderBy(
                *[F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in spec]
            )
            want = {
                r["id"]: r["r"]
                for r in df.withColumn("r", F.row_number().over(window)).collect()
            }
            assert got == want, spec


def test_rank_key_without_exact_literal_raises_at_construction(spark):
    """A key type the SQL literal renderer can't render exactly (here
    array<int>) is refused with a TypeError naming the column and its
    type when the rank is BUILT — never a silent fallback."""
    df = spark.createDataFrame([(1, [1, 2]), (2, [0])], "id long, arr array<int>")
    with pytest.raises(TypeError, match=r"arr.*array<int>"):
        global_rank_distributed(df, [("arr", "asc"), ("id", "asc")])


def test_rank_temp_columns_keep_caller_columns(spark):
    """The key projection's temp columns must not replace caller columns
    of the same name: a frame carrying `__rk0`/`__rk1` keeps both
    columns and their values through the rank."""
    df = spark.createDataFrame(
        [(i, float((i * 37) % 11), f"x{i}", i * 10) for i in range(50)],
        "id long, v double, __rk0 string, __rk1 long",
    )
    ranked = global_rank_distributed(
        df, [("v", "desc"), ("id", "asc")], rank_col="r", num_partitions=4
    )
    assert ranked.columns == df.columns + ["r"]
    got = {r["id"]: (r["__rk0"], r["__rk1"]) for r in ranked.collect()}
    assert got == {i: (f"x{i}", i * 10) for i in range(50)}


def test_sql_literal_round_trips_exactly(spark):
    """Every rendered literal parses back to the identical value and type,
    on round-trip-hostile values; an unsupported type raises instead of
    returning None."""
    import datetime as dt
    import math
    from decimal import Decimal

    from pyspark.sql import types as T

    from skiliopay_datapipeline_customer_spark.operators.sqltext import sql_literal

    cases = [
        (True, T.BooleanType()),
        (-(2**63), T.LongType()),
        (2**63 - 1, T.LongType()),
        (-0.0, T.DoubleType()),
        (0.1, T.DoubleType()),
        (1e-300, T.DoubleType()),
        (5e-324, T.DoubleType()),
        (1.7976931348623157e308, T.DoubleType()),
        (math.pi, T.DoubleType()),
        (3.0, T.DoubleType()),
        (float("inf"), T.DoubleType()),
        (float("-inf"), T.DoubleType()),
        ("a'b\\c\n中", T.StringType()),
        (Decimal("-12345678901234567.12"), T.DecimalType(38, 2)),
        (Decimal("1E+2"), T.DecimalType(10, 0)),
        (dt.date(1, 1, 1), T.DateType()),
        (dt.datetime(2021, 11, 7, 1, 30, 0, 5), T.TimestampNTZType()),
        (bytearray(b"\x00\xff\x10"), T.BinaryType()),
    ]
    for v, t in cases:
        lit = sql_literal(v, t)
        got = spark.sql(f"SELECT {lit} AS x")
        assert got.schema["x"].dataType == t, lit
        [(rt,)] = got.collect()
        assert rt == v, lit
        if isinstance(v, float):
            assert math.copysign(1, rt) == math.copysign(1, v), lit
    [(nan,)] = spark.sql(f"SELECT {sql_literal(float('nan'), T.DoubleType())}").collect()
    assert math.isnan(nan)
    # LTZ timestamps are epoch micros, exact under any session zone
    micros = 1636263000000005
    lit = sql_literal(micros, T.TimestampType())
    [(rt,)] = spark.sql(f"SELECT unix_micros({lit})").collect()
    assert rt == micros
    with pytest.raises(TypeError, match="array<int>"):
        sql_literal([1], T.ArrayType(T.IntegerType()))


def test_rank_family_on_empty_and_tiny_frames(spark):
    """Degenerate inputs: an EMPTY frame yields an empty rank (no
    boundary → one bucket → no error), and a frame smaller than the
    requested bucket count still ranks exactly."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        global_cumsum_distributed,
        global_rank_distributed,
    )

    empty = spark.createDataFrame([], "id long, v double")
    assert (
        global_rank_distributed(
            empty, [("v", "desc"), "id"], rank_col="r", num_partitions=8
        ).count()
        == 0
    )
    tiny = spark.createDataFrame([(1, 5.0), (2, 3.0), (3, 9.0)], "id long, v double")
    got = {
        r["id"]: r["r"]
        for r in global_rank_distributed(
            tiny, [("v", "asc"), "id"], rank_col="r", num_partitions=32
        ).collect()
    }
    assert got == {2: 1, 1: 2, 3: 3}
    cs = {
        r["id"]: r["c"]
        for r in global_cumsum_distributed(
            tiny, [("id", "asc")], "v", out="c", num_partitions=32
        ).collect()
    }
    assert cs == {1: 5.0, 2: 8.0, 3: 17.0}


def test_boundary_cache_clear_and_eviction_are_correctness_neutral(spark):
    """Pins the `_BOUNDARY_CACHE` contract before anyone 'optimizes' it:
    (1) clearing the cache mid-session only costs a re-sample — the ranks
    computed before and after a clear are identical; (2) the at-cap
    eviction is FIFO-one-entry, so a 257th plan evicts exactly the oldest
    entry instead of flushing every live plan."""
    from skiliopay_datapipeline_customer_spark.operators import ranks

    df = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(500)], "id long, v double"
    )
    spec = [("v", "asc"), ("id", "asc")]

    def ranked():
        return {
            r["id"]: r["r"]
            for r in ranks.global_rank_distributed(
                df, spec, rank_col="r", num_partitions=16
            ).collect()
        }

    before = ranked()
    assert len(ranks._BOUNDARY_CACHE) >= 1  # the call above memoized
    ranks._BOUNDARY_CACHE.clear()
    after = ranked()  # re-samples boundaries from scratch
    assert after == before

    # eviction: fill to the cap with synthetic entries, then trigger one
    # real insert — exactly the oldest synthetic entry must fall out
    ranks._BOUNDARY_CACHE.clear()
    for i in range(ranks._BOUNDARY_CACHE_MAX):
        ranks._BOUNDARY_CACHE[("synthetic", i)] = [(float(i),)]
    assert len(ranks._BOUNDARY_CACHE) == ranks._BOUNDARY_CACHE_MAX
    again = ranked()
    assert again == before
    assert ("synthetic", 0) not in ranks._BOUNDARY_CACHE
    assert ("synthetic", 1) in ranks._BOUNDARY_CACHE
    assert len(ranks._BOUNDARY_CACHE) == ranks._BOUNDARY_CACHE_MAX
    ranks._BOUNDARY_CACHE.clear()


def test_rank_temp_names_keep_every_caller_column(spark):
    """Caller columns named like the rank operators' temps — `_pid`,
    `_local`, `_offset`, `_rank`, `_u`, `_n` (in any letter case) — keep
    their names, positions and values through global_rank_distributed
    and quantile_bucket_distributed; the ranks and buckets still equal
    the single-window forms."""
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        quantile_bucket_parity,
    )

    rows = [
        (i, float((i * 37) % 11), f"p{i}", i * 2, i * 3.5, f"r{i}", -i, i % 3 == 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, v double, _pid string, _LOCAL long, _offset double, "
        "_rank string, _u long, _n boolean",
    )
    caller = {r[0]: r for r in rows}

    ranked = global_rank_distributed(
        df, [("v", "desc"), ("id", "asc")], rank_col="r", num_partitions=4
    )
    assert ranked.columns == df.columns + ["r"]
    window = Window.orderBy(F.col("v").desc(), F.col("id"))
    want = {
        r["id"]: r["r"]
        for r in df.select("id", F.row_number().over(window).alias("r")).collect()
    }
    got = ranked.collect()
    assert {r[0]: tuple(r[:-1]) for r in got} == caller
    assert {r["id"]: r["r"] for r in got} == want

    qb = quantile_bucket_distributed(
        df, "v", [1, 2, 3, 4, 5], ascending=True, tiebreak="id", out="q",
        num_partitions=4,
    )
    assert qb.columns == df.columns + ["q"]
    exact = quantile_bucket_parity(
        df, "v", [1, 2, 3, 4, 5], ascending=True, tiebreak="id", out="q"
    )
    got = qb.collect()
    assert {r[0]: tuple(r[:-1]) for r in got} == caller
    assert {r["id"]: r["q"] for r in got} == {
        r["id"]: r["q"] for r in exact.select("id", "q").collect()
    }


def _parity_buckets(df, specs, tiebreak):
    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        quantile_bucket_parity,
    )

    return {
        out: {
            r[tiebreak]: r[out]
            for r in quantile_bucket_parity(
                df, col, labels, ascending=asc, tiebreak=tiebreak, out=out
            )
            .select(tiebreak, out)
            .collect()
        }
        for col, labels, asc, out in specs
    }


def test_quantile_buckets_multi_spec_equal_single_column_parity(spark):
    """Each spec of ONE quantile_buckets_distributed call equals
    quantile_bucket_parity run alone on its column, ascending and
    descending, over NULL and NaN keys, ties and n % 5 != 0 — although
    every spec's side branches read the input frame and the specs share
    one boundary sample."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        quantile_buckets_distributed,
    )

    n = 503
    rows = []
    for i in range(n):
        a = None if i % 17 == 0 else (
            float("nan") if i % 23 == 0 else float((i * 7919) % 13) - 6.5
        )
        b = None if i % 29 == 0 else (i * 31) % 41
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "user_id long, a double, b long")
    up, down = [1, 2, 3, 4, 5], [5, 4, 3, 2, 1]
    specs = [
        ("a", up, True, "a_up"),
        ("a", down, False, "a_down"),
        ("b", up, False, "b_down"),
        ("b", down, True, "b_up"),
    ]
    got = quantile_buckets_distributed(df, specs, num_partitions=8)
    assert got.columns == df.columns + [s[3] for s in specs]
    rows_out = got.collect()
    assert len(rows_out) == n
    want = _parity_buckets(df, specs, "user_id")
    for *_, out in specs:
        assert {r["user_id"]: r[out] for r in rows_out} == want[out], out
        assert len(set(want[out].values())) == 5, out


def test_quantile_buckets_constant_column_takes_fill_label_alone(spark):
    """A constant column among normal ones takes the fill label (labels[0]
    ascending, labels[-1] descending) while the other specs of the same
    call still bucket normally — the fill guard is per spec."""
    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        quantile_buckets_distributed,
    )

    rows = [(i, float((i * 37) % 101), 42.0, i % 7) for i in range(97)]
    df = spark.createDataFrame(rows, "user_id long, v double, k double, w long")
    specs = [
        ("v", [1, 2, 3, 4, 5], True, "qv"),
        ("k", [5, 4, 3, 2, 1], False, "qk"),
        ("k", [5, 4, 3, 2, 1], True, "qk_up"),
        ("w", [1, 2, 3, 4, 5], False, "qw"),
    ]
    got = quantile_buckets_distributed(df, specs, num_partitions=4).collect()
    want = _parity_buckets(df, specs, "user_id")
    for *_, out in specs:
        assert {r["user_id"]: r[out] for r in got} == want[out], out
    assert set(want["qk"].values()) == {1} and set(want["qk_up"].values()) == {5}
    assert len(set(want["qv"].values())) == 5 and len(set(want["qw"].values())) == 5


@contextlib.contextmanager
def _aqe_off(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn launched) — counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rfm_features_builds_in_one_job_over_one_scan(spark, sf_dir):
    """The gold layer's RFM quintiles over a parquet-backed per-customer
    frame (the daily job's gold input shape): building rfm_features runs
    exactly ONE Spark job (the shared boundary sample of the three
    columns), and with AQE off the executed plan scans the input once —
    every side branch (stats, per-bucket counts, offsets) reads the input
    frame, so each reuses the same exchange instead of re-running an
    earlier column's rank."""
    import uuid

    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        rfm_features,
    )
    from skiliopay_datapipeline_customer_spark.operators import ranks

    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.datediff(F.lit("1998-08-02"), F.max("o_orderdate")).alias("rfm_recency"),
        F.count("*").alias("rfm_frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("rfm_monetary"),
    )
    with _aqe_off(spark):
        ranks._BOUNDARY_CACHE.clear()
        gold, jobs = _jobs_in_group(
            spark, f"rfm-build-{uuid.uuid4().hex}", lambda: rfm_features(per_cust)
        )
        assert jobs == 1
        plan = gold._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1, plan
        assert gold.count() == per_cust.count()
