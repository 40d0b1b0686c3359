"""Planted-structure tests for the data-selection operators
(operators/selection.py): bigram LM, NB classifier, DSIR weights,
Bloom-prefiltered decontamination, CCNet quality buckets.

Each test plants a signal the operator must recover — not just a shape
check — mirroring the suite's pattern for dedup/similarity.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.operators import selection as S


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_bigram_lm_prefers_fluent_word_order(spark):
    # Same word BAG, different ORDER: the repeated "a b" pattern dominates
    # the bigram table, so the doc that scrambles the order scores lower —
    # the exact signal a unigram model cannot see.
    fluent = "a b " * 20
    rows = [(i, fluent.strip(), "en", "s") for i in range(9)]
    rows.append((9, ("a a b b " * 10).strip(), "en", "s"))
    scores = S.bigram_lm_doc_scores(_docs(spark, rows)).collect()
    by_id = {r["doc_id"]: r["mean_bigram_logprob"] for r in scores}
    assert len(by_id) == 10
    fluent_score = by_id[0]
    scrambled_score = by_id[9]
    assert fluent_score > scrambled_score


def test_bigram_rows_skips_short_docs(spark):
    rows = [(0, "solo", "en", "s"), (1, "two tokens", "en", "s")]
    got = S.bigram_rows(_docs(spark, rows)).collect()
    assert [(r["doc_id"], r["gram"], r["w1"]) for r in got] == [
        (1, "two tokens", "two")
    ]


def test_nb_classifier_separates_planted_classes(spark):
    # Class A docs draw from {apple, pear}, class B from {bolt, nut};
    # test docs from each vocabulary must classify to their class.
    train = _docs(
        spark,
        [(i, "apple pear apple", "en", "A") for i in range(0, 10)]
        + [(i, "bolt nut bolt nut", "en", "B") for i in range(10, 20)],
    )
    test = _docs(
        spark,
        [(100, "apple apple pear", "en", "A"), (101, "nut bolt nut", "en", "B")],
    )
    model = S.nb_train(train, label_col="source")
    pred = {r["doc_id"]: r["predicted"] for r in S.nb_score(test, model).collect()}
    assert pred == {100: "A", 101: "B"}


def test_nb_score_handles_oov_tokens(spark):
    # A token never seen in training must fall to the smoothing floor for
    # every class (not crash, not NULL out the score).
    train = _docs(spark, [(0, "aa aa", "en", "A"), (1, "bb bb", "en", "B")])
    test = _docs(spark, [(2, "aa zz", "en", "A")])
    model = S.nb_train(train, label_col="source")
    rows = S.nb_score(test, model).collect()
    assert len(rows) == 1 and rows[0]["predicted"] == "A"
    assert rows[0]["score"] is not None


def test_dsir_weights_rank_target_like_docs_higher(spark):
    # Target slice repeats the "tea tea" bigram; one raw doc mimics it,
    # one is pure noise. The mimic must carry the larger importance weight.
    rows = (
        [(i, "tea tea tea tea tea", "en", "s") for i in range(8)]
        + [(100, "tea tea tea tea", "xx", "s"), (101, "rock dust rock dust", "xx", "s")]
    )
    w = S.dsir_weights(_docs(spark, rows), target_pred=F.col("lang") == "en")
    by_id = {r["doc_id"]: r["dsir_weight"] for r in w.collect()}
    assert by_id[100] > by_id[101]


def test_broadcast_bloom_has_no_false_negatives():
    items = [f"gram-{i}" for i in range(1000)]
    bloom = S.BroadcastBloom(items)
    assert all(bloom.might_contain(it) for it in items)
    # fp rate sane at 16 bits/item, k=7 (theory ~1e-3; allow slack)
    fps = sum(bloom.might_contain(f"other-{i}") for i in range(2000))
    assert fps < 60


def test_hash_bloom_no_false_negatives():
    # the vectorized int64 tier: every inserted hash must probe True
    # (build and probe share the splitmix64 double-hash arithmetic), and
    # the fp rate on fresh random hashes stays in the 16-bits/item, k=7
    # design band (~1e-3 theoretical; allow generous slack)
    rng = np.random.default_rng(7)
    hs = rng.integers(-(2**63), 2**63 - 1, size=5000, dtype=np.int64)
    bits, mask, k = S.hash_bloom_build(hs)
    assert S.hash_bloom_might_contain(hs, bits, mask, k).all()
    other = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    in_set = set(hs.tolist())
    fresh = np.array([h for h in other.tolist() if h not in in_set], dtype=np.int64)
    assert S.hash_bloom_might_contain(fresh, bits, mask, k).sum() < 200


def test_hash_bloom_build_handles_empty_and_tiny_sets():
    bits, mask, k = S.hash_bloom_build(np.array([], dtype=np.int64))
    assert not S.hash_bloom_might_contain(
        np.array([1, -1, 2**62], dtype=np.int64), bits, mask, k
    ).any()
    bits, mask, k = S.hash_bloom_build(np.array([42], dtype=np.int64))
    assert S.hash_bloom_might_contain(np.array([42], dtype=np.int64), bits, mask, k).all()


def test_bloom_decontaminate_matches_exact_anti_join(spark):
    from skiliopay_datapipeline_customer_spark.operators.dedup import (
        shingles_from_tokens,
        tokens,
    )

    base = "w%d w%d w%d w%d w%d w%d"
    rows = [(i, base % (i, i + 1, i + 2, i + 3, i + 4, i + 5), "en", "s") for i in range(30)]
    # doc 20 copies benchmark doc 2's text verbatim -> must drop
    rows[20] = (20, rows[2][1], "en", "s")
    docs = _docs(spark, rows)
    corpus = docs.filter(F.col("doc_id") >= 10)
    benchmark = docs.filter(F.col("doc_id") < 10)

    got = sorted(
        r["doc_id"]
        for r in S.bloom_decontaminate(corpus, benchmark, n=5).collect()
    )

    def grams(df):
        return df.select(
            "doc_id", tokens(F.col("text")).alias("_t")
        ).select(
            "doc_id",
            F.explode(F.array_distinct(shingles_from_tokens(F.col("_t"), 5))).alias("gram"),
        )

    dirty = (
        grams(corpus)
        .join(grams(benchmark).select("gram").distinct(), "gram")
        .select("doc_id")
        .distinct()
    )
    want = sorted(
        r["doc_id"] for r in corpus.join(dirty, "doc_id", "left_anti").collect()
    )
    assert got == want
    assert 20 not in got and 25 in got


def test_bloom_decontaminate_caps_benchmark_size(spark):
    import pytest

    rows = [(i, f"a{i} b{i} c{i} d{i} e{i}", "en", "s") for i in range(20)]
    docs = _docs(spark, rows)
    with pytest.raises(ValueError, match="max_benchmark_grams"):
        S.bloom_decontaminate(
            docs.filter(F.col("doc_id") >= 10),
            docs.filter(F.col("doc_id") < 10),
            n=5,
            max_benchmark_grams=3,
        )


def test_quality_buckets_tertile_labels(spark):
    scores = spark.createDataFrame(
        [(i, "en", float(-i)) for i in range(9)],
        "doc_id long, lang string, s double",
    )
    got = {
        r["doc_id"]: r["quality_bucket"]
        for r in S.quality_buckets(scores, "s", "lang").collect()
    }
    # scores -0..-8 desc -> docs 0-2 head, 3-5 middle, 6-8 tail
    assert [got[i] for i in range(9)] == ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3


# ---------------------------------------------------------------------------
# Property tests: exact parity with sequential pure-Python references on
# randomized corpora (the suite's pattern for ewm/line-dedup/scd2).
# ---------------------------------------------------------------------------

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORD = st.sampled_from(["aa", "bb", "cc", "dd"])
_DOC = st.lists(_WORD, min_size=2, max_size=12).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=2, max_size=10)


def _ref_bigram_scores(texts):
    """Sequential reference for bigram_lm_doc_scores."""
    toks = {i: t.lower().split() for i, t in enumerate(texts)}
    bigs = {i: [f"{w[j]} {w[j+1]}" for j in range(len(w) - 1)] for i, w in toks.items()}
    c2, c1 = {}, {}
    for gs in bigs.values():
        for g in gs:
            c2[g] = c2.get(g, 0) + 1
            w1 = g.split(" ")[0]
            c1[w1] = c1.get(w1, 0) + 1
    vocab = {t for w in toks.values() for t in w}
    v = float(len(vocab))
    out = {}
    for i, gs in bigs.items():
        if not gs:
            continue
        s = sum(math.log((c2[g] + 1.0) / (c1[g.split(" ")[0]] + v)) for g in gs)
        out[i] = (len(gs), s / len(gs))
    return out


@given(texts=_CORPUS)
@_SETTINGS
def test_bigram_lm_matches_sequential_reference(spark, texts):
    rows = [(i, t, "en", "s") for i, t in enumerate(texts)]
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_bigram_logprob"])
        for r in S.bigram_lm_doc_scores(_docs(spark, rows)).collect()
    }
    want = _ref_bigram_scores(texts)
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert math.isclose(got[i][1], want[i][1], rel_tol=1e-9, abs_tol=1e-9)


def _ref_nb_predict(train_rows, test_rows):
    """Sequential multinomial-NB reference (add-one smoothing, rounded
    argmax with class-name tiebreak — the operator's contract)."""
    cls_tok, cls_tot, cls_docs = {}, {}, {}
    vocab = set()
    for _i, text, label in train_rows:
        cls_docs[label] = cls_docs.get(label, 0) + 1
        for t in text.lower().split():
            vocab.add(t)
            cls_tok[(label, t)] = cls_tok.get((label, t), 0) + 1
            cls_tot[label] = cls_tot.get(label, 0) + 1
    total = sum(cls_docs.values())
    v = float(len(vocab))
    out = {}
    for i, text, _label in test_rows:
        best = None
        for c in sorted(cls_docs):
            s = math.log(cls_docs[c] / total)
            for t in text.lower().split():
                s += math.log((cls_tok.get((c, t), 0) + 1.0) / (cls_tot[c] + v))
            s = round(s, 6)
            if best is None or s > best[1]:
                best = (c, s)
        out[i] = best[0]
    return out


@given(
    train=st.lists(
        st.tuples(_DOC, st.sampled_from(["A", "B"])), min_size=2, max_size=10
    ).filter(lambda rs: len({l for _, l in rs}) == 2),
    test=st.lists(_DOC, min_size=1, max_size=4),
)
@_SETTINGS
def test_nb_classifier_matches_sequential_reference(spark, train, test):
    train_rows = [(i, t, l) for i, (t, l) in enumerate(train)]
    test_rows = [(100 + i, t, "A") for i, t in enumerate(test)]
    tr = _docs(spark, [(i, t, "en", l) for i, t, l in train_rows])
    te = _docs(spark, [(i, t, "en", l) for i, t, l in test_rows])
    model = S.nb_train(tr, label_col="source")
    got = {r["doc_id"]: r["predicted"] for r in S.nb_score(te, model).collect()}
    want = _ref_nb_predict(train_rows, test_rows)
    assert got == want


def test_selection_model_joins_broadcast_not_smj(spark, sf_dir):
    """Scale guard: the selection family's model-frame joins (gram/w1/tok/
    bucket/label count tables, 1-row totals) must broadcast — a
    SortMergeJoin here means a corpus-sized shuffle against a frame that
    should be model-sized. At the test SF the per-doc doc_id joins also
    broadcast, so the plan must contain NO SortMergeJoin at all; if Spark's
    thresholds ever change this points straight at the join to re-audit."""
    from skiliopay_datapipeline_customer_spark.queries import all_queries

    q = all_queries()
    for name in [
        "bigram_doc_logprob",
        "nb_source_classifier",
        "dsir_importance_weights",
        "curated_selection_pipeline",
    ]:
        plan = (
            q[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, f"{name} planned a cartesian"
        for line in plan.splitlines():
            if "SortMergeJoin" not in line:
                continue
            # doc_id SMJs are doc-frame × doc-frame — the correct plan at
            # scale (the capstone's weights⋈survivors join). Model keys
            # (gram/w1/tok/bucket/label) must broadcast.
            assert "doc_id" in line, f"{name} SMJ on a model key: {line.strip()}"


def test_cms_heavy_hitters_exact_on_planted_skew(spark):
    from skiliopay_datapipeline_customer_spark.operators.sketches import (
        cms_heavy_hitters,
        cms_sketch,
    )

    # 3 heavy tokens (100 occurrences each) + 200 singletons: the exact
    # result is the heavy trio with exact counts, singletons dropped.
    rows = [("hot%d" % h,) for h in range(3) for _ in range(100)]
    rows += [("rare%d" % i,) for i in range(200)]
    toks = spark.createDataFrame(rows, "tok string")
    got = cms_heavy_hitters(toks, min_share=0.05, top_k=10).collect()
    assert [(r["tok"], r["n"]) for r in got] == [
        ("hot0", 100), ("hot1", 100), ("hot2", 100)
    ]
    # the sketch grid is bounded by depth*width regardless of vocab size
    assert cms_sketch(toks, depth=4, width=32).count() <= 4 * 32


def test_cms_sketch_merge_equals_one_pass(spark):
    """Mergeability: per-slice grids summed cell-wise == the full-corpus
    grid — the property that lets CMS fold incrementally per micro-batch
    or per partition without rescanning history."""
    from skiliopay_datapipeline_customer_spark.operators.sketches import (
        cms_sketch,
        merge_sketches,
    )

    rows = [("tok%d" % (i % 37),) for i in range(500)]
    toks = spark.createDataFrame(rows, "tok string")
    full = cms_sketch(toks, depth=4, width=32)
    parts = [
        cms_sketch(toks.filter(F.pmod(F.xxhash64("tok"), F.lit(3)) == i), depth=4, width=32)
        for i in range(3)
    ]
    merged = merge_sketches(parts)
    a = {(r["row"], r["bucket"]): r["n"] for r in full.collect()}
    b = {(r["row"], r["bucket"]): r["n"] for r in merged.collect()}
    assert a == b


def test_cms_streaming_accumulation_matches_batch(spark, tmp_path):
    """Streaming CMS: each micro-batch's fixed-size grid appends to a
    store; the merged store equals the one-pass batch sketch, so stream-
    accumulated heavy hitters equal the batch answer without re-scanning
    history. (foreachBatch — the engine's incremental-sink discipline.)"""
    import os

    from skiliopay_datapipeline_customer_spark.operators.sketches import (
        cms_sketch,
        merge_sketches,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    all_rows = [("tok%d" % (i % 23),) for i in range(300)]
    for b in range(3):
        spark.createDataFrame(
            all_rows[b * 100 : (b + 1) * 100], "tok string"
        ).coalesce(1).write.parquet(f"{src}/b{b}")
    store = str(tmp_path / "store")

    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )

    def fold(batch_df, batch_id):
        cms_sketch(batch_df, depth=4, width=32).write.mode("append").parquet(store)

    q = stream.writeStream.foreachBatch(fold).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    merged = merge_sketches([spark.read.parquet(store)])
    full = cms_sketch(
        spark.createDataFrame(all_rows, "tok string"), depth=4, width=32
    )
    a = {(r["row"], r["bucket"]): r["n"] for r in merged.collect()}
    b = {(r["row"], r["bucket"]): r["n"] for r in full.collect()}
    assert a == b


def test_ntile_distributed_equals_window_across_n_q_grid(spark):
    """ntile_distributed must reproduce SQL NTILE exactly for every (n, q)
    shape — including remainder distributions (n % q != 0) where the naive
    floor((r-1)q/n)+1 form diverges (n=6, q=4 puts sizes 2,2,1,1, not
    2,1,2,1), and q > n (bucket = rank)."""
    from functools import reduce

    from pyspark.sql import DataFrame, Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        ntile_distributed,
    )

    qs = [1, 2, 3, 4, 10, 30]
    order = [("v", "desc"), ("id", "asc")]
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    for n in [1, 2, 3, 5, 6, 7, 10, 23]:
        df = spark.createDataFrame(
            [(i, float((i * 7) % n)) for i in range(n)], "id long, v double"
        )
        # every q in one job per side: one window pass with a column per q,
        # and the six independent ntile_distributed frames as one union
        windowed = df.select(
            "id", *[F.ntile(q).over(w).alias(f"t{q}") for q in qs]
        ).collect()
        distributed = reduce(
            DataFrame.unionByName,
            [
                ntile_distributed(df, order, q, out="t").select(
                    F.lit(q).alias("q"), "id", "t"
                )
                for q in qs
            ],
        ).collect()
        for q in qs:
            want = {r["id"]: r[f"t{q}"] for r in windowed}
            got = {r["id"]: r["t"] for r in distributed if r["q"] == q}
            assert got == want, f"n={n} q={q}"


def test_grouped_ntile_distributed_equals_window(spark):
    """Per-group NTILE from one bucketed rank pass must equal the
    partitioned window form across uneven group sizes (incl. a dominant
    group and a singleton group)."""
    from pyspark.sql import Window

    from skiliopay_datapipeline_customer_spark.operators.ranks import (
        grouped_ntile_distributed,
    )

    rows = []
    for g, n in [("big", 23), ("mid", 7), ("one", 1), ("two", 2)]:
        rows += [(g, i, float((i * 13) % 11)) for i in range(n)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    order = [("v", "desc"), ("id", "asc")]
    for q in [1, 2, 3, 5, 10]:
        want = {
            (r["g"], r["id"]): r["t"]
            for r in df.withColumn(
                "t",
                F.ntile(q).over(
                    Window.partitionBy("g").orderBy(
                        F.col("v").desc(), F.col("id").asc()
                    )
                ),
            ).collect()
        }
        got = {
            (r["g"], r["id"]): r["t"]
            for r in grouped_ntile_distributed(
                df, ["g"], order, q, out="t"
            ).collect()
        }
        assert got == want, f"q={q}"


def test_bloom_closure_matches_class_on_randomized_parameters(spark):
    """The executor-side membership closure in `_bloom_prefilter` must
    duplicate `BroadcastBloom._positions` (the foreign-cwd pickling
    constraint forbids sharing code) — this pins the two copies to each
    other directly, over randomized items AND randomized (k,
    bits_per_item) → mask parameters, so a future edit to one copy fails
    HERE with a pinpointed message instead of via the end-to-end
    decontamination equality test."""
    import random

    from skiliopay_datapipeline_customer_spark.operators.selection import (
        BroadcastBloom,
        _bloom_prefilter,
    )

    rng = random.Random(20260816)
    for trial in range(3):
        k = rng.choice([3, 5, 7, 11])
        bpi = rng.choice([4, 8, 16])
        members = [f"gram-{rng.randrange(10**9)}" for _ in range(200)]
        probes = members[:50] + [
            f"probe-{rng.randrange(10**9)}" for _ in range(300)
        ]
        bloom = BroadcastBloom(members, bits_per_item=bpi, k=k)
        want = {p for p in probes if bloom.might_contain(p)}
        grams = spark.createDataFrame(
            [(p,) for p in set(probes)], "gram string"
        )
        got = {
            r["gram"] for r in _bloom_prefilter(grams, bloom).collect()
        }
        assert got == want, (
            f"trial={trial} k={k} bits_per_item={bpi}: closure kept "
            f"{len(got)} vs class {len(want)}; closure-only="
            f"{sorted(got - want)[:3]} class-only={sorted(want - got)[:3]}"
        )
        # no false negatives, ever: every true member must survive
        assert set(members[:50]) <= got


def test_quality_buckets_rejects_single_bucket():
    import pytest as _pytest

    from skiliopay_datapipeline_customer_spark.operators.selection import (
        quality_buckets,
    )

    with _pytest.raises(ValueError, match="n_buckets >= 2"):
        quality_buckets(None, "s", "g", n_buckets=1)
