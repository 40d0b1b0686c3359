"""Data-selection operators — the curation layer of an LLM training-data
pipeline that sits between cleaning/dedup and packing: statistical-LM
quality scoring (CCNet), lightweight quality classification (the fastText
stand-in), importance resampling (DSIR), and Bloom-prefiltered exact
decontamination.

Reference provenance: the reference repo has no training-data curation
stage (its scope ends at churn features, src/processing/etl_pipeline.py);
these operators extend the engine toward the 100 TB corpus-pipeline
north star the brief names, built on published recipes:

- CCNet (Wenzek et al. 2020): LM-perplexity quality buckets per language.
- GPT-3 appendix A (Brown et al. 2020): a linear quality classifier over
  hashed features separating curated from raw text.
- DSIR (Xie et al. 2023): importance weights from hashed n-gram bucket
  frequencies, target vs raw distributions.
- Lee et al. 2021 / PaLM §7: exact n-gram decontamination — here with a
  Bloom-filter map-side prefilter so the corpus side never shuffles on
  its own size.

Every frame that must agree with the DuckDB oracle uses the portable md5
hash kernel (``operators/dedup.py::portable_hash60``) so bucket ids are
bit-identical across engines.

Scale posture (100 TB): trained model frames (bigram counts, class-token
tables, bucket histograms, Bloom bitsets) are vocab/model-sized and
broadcast; the corpus side is always map-side explode + broadcast join +
one per-doc aggregate shuffle. Nothing collects to the driver except
model-sized objects behind explicit caps that raise instead of OOM.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingles_from_tokens, tokens

# ---------------------------------------------------------------------------
# Bigram language model — the smallest LM that distinguishes fluent word
# ORDER from a fluent word BAG (the unigram model's blind spot). Add-one
# smoothed conditional p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V).
# ---------------------------------------------------------------------------


def bigram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_w1: bool = True,
) -> DataFrame:
    """(id, gram[, w1]) — one row per bigram OCCURRENCE (multinomial counts).

    The bigram array is built inside one projection (zip_with over two
    shifted slices) — no posexplode self-join; docs with <2 tokens emit
    nothing. ``with_w1=False`` skips the per-occurrence head-word split —
    callers that attach head counts at MODEL size (bigram_lm_doc_scores)
    never need a per-occurrence regex.
    """
    t = F.col("_toks")
    n = F.size(t)
    grams = F.zip_with(
        F.slice(t, F.lit(1), n - F.lit(1)),
        F.slice(t, F.lit(2), n - F.lit(1)),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    out = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(n >= 2)
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )
    if with_w1:
        out = out.withColumn("w1", F.split(F.col("gram"), " ").getItem(0))
    return out


def bigram_lm_doc_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", grams: DataFrame | None = None
) -> DataFrame:
    """Per-doc mean add-one-smoothed bigram log-probability.

    Plan (r12 rewrite — the corpus explodes ONCE, everything else is
    model-sized): one PERSISTED bigram explode feeds both the gram-count
    shuffle (c2, partial-aggregated, vocab²-bounded) and the scoring
    join — without the persist the two subtrees each re-ran the
    tokenize+zip_with+explode kernel (interpreted higher-order
    functions, the dominant map cost) inside the same action. The head
    counts c1 derive FROM c2 by re-aggregating its grams on their first
    word — counting bigram occurrences by gram then summing per head ≡
    counting by head directly, so the r11 form's SECOND full corpus
    explode+shuffle bought nothing. The unigram vocab size also derives
    from c2's gram words (every token of a ≥2-token doc appears in some
    bigram) plus a tokenize-only pass over the <2-token docs (no
    full-corpus explode; empty/1-token texts still count their token
    toward V, matching the oracle's unnest-all semantics). The single
    (gram, n2, n1) model frame broadcasts back onto the occurrence
    frame — one join, no per-occurrence w1 split — and the corpus
    shuffles once, on ``id_col``. Counts stay exact: n1 sums
    integer-valued doubles well under 2^53.

    ``grams``: an optional pre-built (id_col, gram) occurrence frame
    (``bigram_rows(..., with_w1=False)`` shape) — pipeline capstones
    that already hold the exploded frame pass it here so the corpus
    tokenizes once across stages. When given, the caller owns its
    lifecycle (persist/release); when omitted this function persists
    its own and releases it via ``materialize`` (the result is one row
    per scored doc — the same class of frame the dedup pipelines pin).
    With ``grams=None`` calling this runs the scoring plan at call time
    (kept; SCALE.md, "Spark actions at build time"): the lazy form, whose
    readers could share only some of the kernel's exchanges, measured
    1.4-1.7x slower at sf0.1.
    """
    own = grams is None
    big = bigram_rows(df, text_col, id_col, with_w1=False).persist() if own else grams
    c2 = big.groupBy("gram").agg(F.count(F.lit(1)).cast("double").alias("n2"))
    w1 = F.split(F.col("gram"), " ").getItem(0).alias("w1")
    c1 = c2.select(w1, "n2").groupBy("w1").agg(F.sum("n2").alias("n1"))
    model = (
        c2.select("gram", w1, "n2").join(c1, "w1").select("gram", "n2", "n1")
    )
    gram_words = c2.select(F.explode(F.split(F.col("gram"), " ")).alias("tok"))
    short_doc_words = (
        df.select(tokens(F.col(text_col)).alias("_t"))
        .filter(F.size("_t") < 2)
        .select(F.explode("_t").alias("tok"))
    )
    vocab = (
        gram_words.unionByName(short_doc_words)
        .agg(F.countDistinct("tok").cast("double").alias("vsz"))
    )
    scores = (
        big.join(F.broadcast(model), "gram")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("vsz"))))
                / F.count(F.lit(1))
            ).alias("mean_bigram_logprob"),
        )
    )
    if own:
        from .dedup import materialize

        return materialize(scores, big)
    return scores


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes text classifier — trained and applied entirely as
# DataFrame algebra (the model IS two small frames), the distributed
# stand-in for the fastText quality classifier of the GPT-3/Gopher
# pipelines. Add-one smoothing over the train vocab.
# ---------------------------------------------------------------------------


def nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Fit multinomial NB: returns model frames (all broadcast-sized).

    ``class_tok``: (label, tok, n) occurrence counts;
    ``class_stats``: (label, tok_total, log_prior);
    ``vocab_size``: 1-row V.
    One explode + two partial-aggregated shuffles on vocab-sized keys —
    the classic map-side-combine shape; never a per-doc state.
    """
    toks = df.select(
        F.col(label_col).alias("label"),
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    class_tok = toks.groupBy("label", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    n_docs = df.count()
    class_stats = (
        df.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            class_tok.groupBy("label").agg(F.sum("n").alias("tok_total")),
            "label",
        )
        .select(
            "label",
            "tok_total",
            F.log(F.col("n_docs").cast("double") / float(n_docs)).alias(
                "log_prior"
            ),
        )
    )
    vocab_size = toks.agg(F.countDistinct("tok").cast("double").alias("vsz"))
    return {
        "class_tok": class_tok,
        "class_stats": class_stats,
        "vocab_size": vocab_size,
    }


def nb_score(
    df: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 6,
) -> DataFrame:
    """Score docs against every class; emit per-doc argmax prediction.

    (doc tokens × classes) left-joins the class-token counts so unseen
    (class, tok) pairs fall to the smoothing floor. Scores round before
    the argmax so the cross-engine FP summation-order jitter (~1e-12)
    cannot flip near-ties; remaining exact ties break on class name.
    Shape: one explode, broadcast model joins, one (doc, class) partial
    aggregate, one per-doc window on a grouped frame |docs|×|classes|.
    """
    labels = model["class_stats"].select("label", "tok_total", "log_prior")
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    scored = (
        toks.crossJoin(F.broadcast(labels))
        .join(F.broadcast(model["class_tok"]), ["label", "tok"], "left")
        .crossJoin(F.broadcast(model["vocab_size"]))
        .groupBy(id_col, "label", "log_prior")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0.0)) + 1.0)
                    / (F.col("tok_total") + F.col("vsz"))
                )
            ).alias("loglik")
        )
        .select(
            F.col(id_col),
            F.col("label"),
            F.round(F.col("log_prior") + F.col("loglik"), round_digits).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("label").alias("predicted"), "score")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights — hashed n-gram bucket features; weight(doc) =
# Σ_grams log(p_target(bucket) / p_raw(bucket)), add-one smoothed over B
# buckets. Bucket hash = production xxhash64 (r12 — was the md5 portable
# kernel while string xxhash64 looked SQL-irreproducible; the short-string
# tail cascade in functions/fixtures_oracle.py replays it now, so the
# oracle reproduces the PRODUCTION hash and the map stage drops an
# md5(concat) per gram occurrence on every pass).
# ---------------------------------------------------------------------------


def dsir_weights(
    df: DataFrame | None,
    target_pred,
    n_buckets: int = 1024,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    grams: DataFrame | None = None,
) -> DataFrame:
    """(id, n_grams, dsir_weight) — importance of each doc toward the
    target slice defined by ``target_pred`` (a boolean Column over df).

    Both histograms are B-row broadcast frames; the corpus side is one
    map-side explode + hash and one per-doc aggregate. At 100 TB the
    target histogram would train on a sample — the math only needs
    bucket FREQUENCIES, so a uniform sample is unbiased.

    The bucketed occurrence frame feeds BOTH the histogram shuffle and
    the per-doc weight join. ``grams``: an optional pre-built (id_col,
    _is_target, gram) occurrence frame — capstones that already hold an
    exploded 2-gram frame (``bigram_rows`` emits the identical
    space-joined grams) pass it here so their corpus tokenizes once
    across pipeline stages; ``df``/``target_pred`` are unused then (pass
    None), the result is lazy and the caller owns the frame's lifecycle
    (persist/release). When omitted this function persists its own
    bucketed occurrences so the interpreted tokenize+shingle explode runs
    once per action, and releases them via ``materialize`` (the result
    is one row per doc), so the call runs at call time (kept; SCALE.md,
    "Spark actions at build time": the lazy form measured 1.4-2.1x
    slower at sf0.1).
    """
    own = grams is None
    if own:
        grams = (
            df.select(
                F.col(id_col),
                tokens(F.col(text_col)).alias("_toks"),
                target_pred.alias("_is_target"),
            )
            .select(
                F.col(id_col),
                F.col("_is_target"),
                F.explode(
                    shingles_from_tokens(F.col("_toks"), shingle_n)
                ).alias("gram"),
            )
        )
    grams = grams.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("gram")), F.lit(n_buckets))
    )
    if own:
        grams = grams.persist()
    hist = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_target"), 1).otherwise(0))
        .cast("double")
        .alias("n_t"),
        F.count(F.lit(1)).cast("double").alias("n_r"),
    )
    totals = hist.agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_r").alias("tot_r")
    )
    b = float(n_buckets)
    ratio = (
        hist.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.log(
                ((F.col("n_t") + 1.0) / (F.col("tot_t") + b))
                / ((F.col("n_r") + 1.0) / (F.col("tot_r") + b))
            ).alias("log_ratio"),
        )
    )
    weights = (
        grams.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("log_ratio").alias("dsir_weight"),
        )
    )
    if own:
        from .dedup import materialize

        return materialize(weights, grams)
    return weights


# ---------------------------------------------------------------------------
# Bloom-prefiltered exact decontamination. The Bloom bitset admits no false
# negatives, so prefilter + exact verify on the surviving candidates is
# EXACTLY the n-gram anti-join — the oracle is the exact SQL — while the
# corpus-side shuffle shrinks from every gram to the candidate hits.
# ---------------------------------------------------------------------------


class BroadcastBloom:
    """Plain-numpy Bloom filter, picklable for Spark broadcast.

    Double hashing from one md5 digest per item (Kirsch–Mitzenmacher):
    h_i = h1 + i*h2 mod m. m is rounded to a power of two so the modulo
    is a mask. Built driver-side from a model-sized item list (benchmark
    suites; capped, raises instead of OOM).
    """

    def __init__(self, items: list[str], bits_per_item: int = 16, k: int = 7):
        m = 1 << max(8, int(len(items) * bits_per_item).bit_length())
        self.mask = m - 1
        self.k = k
        self.bits = np.zeros(m // 8, dtype=np.uint8)
        for it in items:
            for pos in self._positions(it):
                self.bits[pos >> 3] |= np.uint8(1 << (pos & 7))

    def _positions(self, item: str) -> list[int]:
        d = hashlib.md5(item.encode("utf-8")).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        return [(h1 + i * h2) & self.mask for i in range(self.k)]

    def might_contain(self, item: str) -> bool:
        return all(
            self.bits[p >> 3] & (1 << (p & 7)) for p in self._positions(item)
        )


def _splitmix64(h: "np.ndarray") -> "np.ndarray":
    """splitmix64 finalizer over a uint64 array — derives the second
    Kirsch–Mitzenmacher hash from the first (Steele et al. 2014, public
    constants). Vectorized; wraps mod 2^64 like every uint64 op here.

    KEEP IN SYNC with the self-contained copy inside the
    ``bloom_decontaminate`` probe udf (foreign-cwd pickling constraint —
    executor closures cannot reference this module); drift is caught by
    ``tests/test_selection.py::test_bloom_decontaminate_matches_exact_anti_join``
    (a drifted probe drops true members, changing the survivor set).
    """
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def hash_bloom_build(
    hashes: "np.ndarray", bits_per_item: int = 16, k: int = 7
) -> tuple["np.ndarray", int, int]:
    """Bloom bitset over PRE-HASHED int64 keys (Spark ``xxhash64``
    values) — the vectorized sibling of :class:`BroadcastBloom`.

    The string tier hashes every item with md5 IN PYTHON on both build
    and probe sides (~1 µs/item, the dominant map cost of a corpus-scale
    prefilter). This tier moves the string hash into the JVM — the
    caller projects ``xxhash64(col)`` (whole-stage codegen) and only the
    int64 crosses into numpy — and derives the k probe positions from
    that one hash via splitmix64 double hashing: h_i = h1 + i*h2 mod m,
    m a power of two. Returns ``(bits, mask, k)`` as plain broadcastable
    state. Same sizing defaults as BroadcastBloom (16 bits/item, k=7,
    theoretical fp ~1e-3); false positives only add rows to the exact
    verify, false negatives are impossible because build and probe hash
    the SAME Spark-computed value with the SAME arithmetic.
    """
    m = 1 << max(8, int(len(hashes) * bits_per_item).bit_length())
    mask = np.uint64(m - 1)
    bits = np.zeros(m // 8, dtype=np.uint8)
    h1 = hashes.astype(np.int64).view(np.uint64)
    h2 = _splitmix64(h1.copy()) | np.uint64(1)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) & mask
        np.bitwise_or.at(
            bits,
            (pos >> np.uint64(3)).astype(np.int64),
            (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
        )
    return bits, int(mask), k


def hash_bloom_might_contain(
    hashes, bits: "np.ndarray", mask: int, k: int
) -> "np.ndarray":
    """Vectorized membership probe over pre-hashed int64 keys — the
    driver-importable twin of the self-contained closure inside
    :func:`bloom_decontaminate` (which must duplicate this arithmetic
    because executors cannot import this module under a foreign driver
    cwd). Keep the two in sync; the end-to-end
    ``test_bloom_decontaminate_matches_exact_anti_join`` fails on any
    drift (a drifted probe drops true members, changing the survivor
    set), and ``test_hash_bloom_no_false_negatives`` pins this helper
    against :func:`hash_bloom_build`.
    """
    hv = np.ascontiguousarray(np.asarray(hashes, dtype=np.int64)).view(
        np.uint64
    )
    m = np.uint64(mask)
    h2 = _splitmix64(hv.copy()) | np.uint64(1)
    ok = np.ones(hv.shape, dtype=bool)
    for i in range(k):
        pos = (hv + np.uint64(i) * h2) & m
        ok &= (
            bits[(pos >> np.uint64(3)).astype(np.int64)]
            >> (pos & np.uint64(7)).astype(np.uint8)
        ) & np.uint8(1) != 0
    return ok


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_benchmark_grams: int = 2_000_000,
) -> DataFrame:
    """Drop every doc sharing an n-gram with the benchmark — exact result,
    Bloom-prefiltered scan.

    1. benchmark gram ``xxhash64`` values distinct-collect (capped —
       benchmarks are model-sized next to a corpus; raises past the cap
       instead of OOMing the driver) → Bloom bitset
       (:func:`hash_bloom_build`) → ``sc.broadcast``. The collect is a
       build-time action (kept; SCALE.md, "Spark actions at build
       time"): the bitset must exist before the probe UDF can close
       over it.
    2. corpus grams test the bitset through a BOOLEAN ``pandas_udf``
       over ``xxhash64(gram)`` — the string hash runs in whole-stage
       codegen, only the int64 column crosses the Arrow boundary, and
       the k bit probes are vectorized numpy (r12: previously an
       Arrow-batched ``mapInPandas`` that md5-hashed every gram
       occurrence in a per-row Python loop — the guide §4 boundary cost
       this rewrite removes; the string tier survives as
       ``BroadcastBloom``/``_bloom_prefilter`` with its own tests).
       False positives possible, false negatives impossible: build and
       probe consume the SAME Spark-computed hash.
    3. surviving candidates exact-verify against the (broadcast)
       benchmark gram frame; hits anti-join the corpus.

    At 100 TB step 2 is the win: the per-executor membership test
    replaces a corpus-wide shuffle-join against the benchmark; only the
    candidate trickle (true hits + Bloom false positives ≈ |hits| +
    corpus_grams × fp_rate) reaches the exact join.
    """

    def grams_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("_toks")
        ).select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles_from_tokens(F.col("_toks"), n))
            ).alias("gram"),
        )

    bench_grams = grams_of(benchmark).select("gram").distinct()
    capped = (
        bench_grams.select(F.xxhash64("gram").alias("h"))
        .limit(max_benchmark_grams + 1)
        .collect()
    )
    if len(capped) > max_benchmark_grams:
        raise ValueError(
            f"benchmark gram set exceeds max_benchmark_grams="
            f"{max_benchmark_grams}; sample the benchmark or raise the cap"
        )
    bits, mask, k = hash_bloom_build(
        np.array([r["h"] for r in capped], dtype=np.int64)
    )
    bc = docs.sparkSession.sparkContext.broadcast((bits, mask, k))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _might_contain_hashed(h):
        # self-contained (cloudpickle ships it by value — the executor
        # cannot import this package under a foreign driver cwd), so the
        # splitmix64 arithmetic is DUPLICATED from _splitmix64/
        # hash_bloom_build; a drifted copy drops true members, so
        # test_bloom_decontaminate_matches_exact_anti_join fails
        import numpy as np
        import pandas as pd

        bbits, bmask, bk = bc.value
        hv = np.ascontiguousarray(
            h.to_numpy(dtype="int64", copy=True)
        ).view(np.uint64)
        m = np.uint64(bmask)
        x = (hv ^ (hv >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h2 = (x ^ (x >> np.uint64(31))) | np.uint64(1)
        ok = np.ones(hv.shape, dtype=bool)
        for i in range(bk):
            pos = (hv + np.uint64(i) * h2) & m
            ok &= (
                bbits[(pos >> np.uint64(3)).astype(np.int64)]
                >> (pos & np.uint64(7)).astype(np.uint8)
            ) & np.uint8(1) != 0
        return pd.Series(ok)

    corpus_grams = grams_of(docs)
    # asNondeterministic (guide §4.4): the optimizer otherwise duplicates
    # the UDF around the pushed-down filter — the r12 plan carried TWO
    # ArrowEvalPython nodes for this one probe, i.e. every corpus gram
    # crossed the Python boundary twice. The predicate is in fact
    # deterministic; the marker only forbids the optimizer's
    # duplicate-and-push, so the kept row set is unchanged (oracle-pinned).
    candidates = corpus_grams.filter(
        _might_contain_hashed.asNondeterministic()(F.xxhash64("gram"))
    )
    dirty = (
        candidates.join(F.broadcast(bench_grams), "gram")
        .select(id_col)
        .distinct()
    )
    return docs.join(dirty, id_col, "left_anti")


def _bloom_prefilter(
    grams: DataFrame, bloom: BroadcastBloom, gram_col: str = "gram"
) -> DataFrame:
    """Map-side Bloom membership prefilter: keep only rows whose
    ``gram_col`` MIGHT be in ``bloom`` (superset of true members — no
    false negatives).

    Broadcasts PLAIN state, not the instance: the round driver imports
    this package by path from an arbitrary cwd, so executor python
    workers cannot unpickle a class referenced by module path. The
    closure below is fully self-contained (cloudpickle ships it by
    value), which forces it to DUPLICATE the Kirsch–Mitzenmacher hash of
    ``BroadcastBloom._positions`` — the closure-vs-class agreement
    pytest (randomized items AND (k, bits_per_item) parameters,
    ``tests/test_selection.py``) fails with a pinpointed message if the
    two copies ever drift."""
    bc = grams.sparkSession.sparkContext.broadcast(
        (bloom.bits, bloom.mask, bloom.k)
    )

    def prefilter(batches: Iterator) -> Iterator:
        import hashlib as _hashlib

        bits, mask, k = bc.value

        def might_contain(item: str) -> bool:
            # mirrors BroadcastBloom._positions — keep in sync
            d = _hashlib.md5(item.encode("utf-8")).digest()
            h1 = int.from_bytes(d[:8], "little")
            h2 = int.from_bytes(d[8:], "little") | 1
            for i in range(k):
                pos = (h1 + i * h2) & mask
                if not bits[pos >> 3] & (1 << (pos & 7)):
                    return False
            return True

        for pdf in batches:
            hit = pdf[gram_col].map(might_contain)
            out = pdf[hit.to_numpy(dtype=bool)]
            if len(out):
                yield out

    return grams.mapInPandas(prefilter, grams.schema)


def quality_buckets(
    scores: DataFrame,
    score_col: str,
    group_col: str,
    id_col: str = "doc_id",
    n_buckets: int = 3,
    round_digits: int = 4,
) -> DataFrame:
    """CCNet head/middle/tail split: ntile over the ROUNDED score within
    each group (rounding first so FP summation-order jitter can't reorder
    near-ties across engines; doc id breaks exact ties)."""
    if n_buckets < 2:
        # the label scheme needs distinct head and tail buckets; with
        # n_buckets=1 the names dict keys collide and the single bucket
        # would silently be labeled 'tail'
        raise ValueError(f"quality_buckets needs n_buckets >= 2, got {n_buckets}")
    rounded = F.round(F.col(score_col), round_digits)
    w = Window.partitionBy(group_col).orderBy(rounded.desc(), F.col(id_col))
    names = {1: "head", n_buckets: "tail"}
    bucket = F.ntile(n_buckets).over(w)
    label = bucket.cast("int")
    expr = F.when(label == 1, F.lit(names[1])).otherwise(
        F.when(label == n_buckets, F.lit(names[n_buckets])).otherwise(
            F.lit("middle")
        )
    )
    return scores.select(
        F.col(id_col),
        F.col(group_col),
        rounded.alias(score_col),
        expr.alias("quality_bucket"),
    )


def doc_perplexity(mean_logprob_col) -> "F.Column":
    """exp(−mean logprob) — the conventional report unit for LM scores."""
    col = (
        F.col(mean_logprob_col)
        if isinstance(mean_logprob_col, str)
        else mean_logprob_col
    )
    return F.exp(-col)


__all__ = [
    "BroadcastBloom",
    "bigram_lm_doc_scores",
    "bigram_rows",
    "bloom_decontaminate",
    "hash_bloom_build",
    "hash_bloom_might_contain",
    "dsir_weights",
    "doc_perplexity",
    "nb_score",
    "nb_train",
    "quality_buckets",
]
