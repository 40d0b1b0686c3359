"""Data-selection queries — the curation stage of an LLM training-data
pipeline (quality LMs, quality classifiers, importance resampling,
Bloom-prefiltered decontamination) over the documents table.

All queries are oracle-checked: model frames (bigram counts, NB
class-token tables, DSIR bucket histograms, the benchmark gram set) are
deterministic DataFrame algebra. Cross-engine hashes: the DSIR bucket
hash is the PRODUCTION xxhash64 (replayed in DuckDB via the short-string
tail cascade since r12); the Bloom decontamination kernel stays on the
portable md5 (its double-hash positions feed a driver-built bitset).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import table
from ..operators import selection as S
from . import query


def _dsir_bucket_ctes(n_buckets: int = 1024) -> str:
    """Shared oracle snippet: a relation ``g`` with a ``gram`` column →
    ``gb`` (doc_id, is_t, bucket) under the PRODUCTION xxhash64 bucket
    hash, replayed per DISTINCT gram via the short-string tail cascade
    (fixtures_oracle.xxhash64_ascii_short_sql; 2-gram shingles max 17
    bytes, probed sf0.001–sf1 — ≥32-byte/non-ASCII grams error() loudly).
    Spark side: F.pmod(F.xxhash64(gram), n_buckets); DuckDB pmod =
    ((h % B) + B) % B."""
    from ..functions.fixtures_oracle import xxhash64_ascii_short_sql

    ctes, final, col = xxhash64_ascii_short_sql(
        "SELECT DISTINCT gram FROM g", "gram", prefix="x"
    )
    b = n_buckets
    return f"""
    {ctes},
    vh AS (
      SELECT gram,
             ((CASE WHEN {col} IS NULL THEN error(
                 'xxhash64 oracle guard: gram >=32 bytes or non-ASCII')
               ELSE {col} END % {b}) + {b}) % {b} AS bucket
      FROM {final}
    ),
    gb AS (
      SELECT g.doc_id, g.is_t, vh.bucket FROM g JOIN vh USING (gram)
    )"""

# ---------------------------------------------------------------------------
# Bigram-LM doc scoring — the CCNet perplexity proxy one order up from
# unigram_doc_logprob: add-one-smoothed p(w2|w1) trained on the corpus
# itself, per-doc mean log-probability. Gibberish word ORDER now scores
# low even when the word BAG is fluent.
# ---------------------------------------------------------------------------


@query(
    "bigram_doc_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS gram
      FROM toks
    ),
    bigw AS (
      SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM big
    ),
    c2 AS (SELECT gram, CAST(count(*) AS DOUBLE) AS n2 FROM bigw GROUP BY gram),
    c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS n1 FROM bigw GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz
          FROM (SELECT unnest(t) AS tok FROM toks))
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(ln((c.n2 + 1) / (c1.n1 + v.vsz))) / count(*), 4)
             AS mean_bigram_logprob
    FROM bigw b
    JOIN c2 c ON b.gram = c.gram
    JOIN c1 ON b.w1 = c1.w1
    CROSS JOIN v
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def bigram_doc_logprob(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    scores = S.bigram_lm_doc_scores(docs)
    return scores.select(
        "doc_id",
        "n_bigrams",
        F.round("mean_bigram_logprob", 4).alias("mean_bigram_logprob"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet quality buckets — per-language head/middle/tail tertiles of the
# bigram-LM score (Wenzek et al. 2020 keep head+middle, drop tail). The
# split orders by the ROUNDED score (doc id tiebreak) so cross-engine FP
# summation jitter cannot reorder near-ties. At 100 TB the global-per-lang
# ntile becomes approx-percentile thresholds (two scan passes) — the
# rfm_quintiles_distributed pattern; the exact window here is the
# oracle-checkable tier.
# ---------------------------------------------------------------------------


@query(
    "ccnet_quality_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS gram
      FROM toks
    ),
    bigw AS (
      SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM big
    ),
    c2 AS (SELECT gram, CAST(count(*) AS DOUBLE) AS n2 FROM bigw GROUP BY gram),
    c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS n1 FROM bigw GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz
          FROM (SELECT unnest(t) AS tok FROM toks)),
    scores AS (
      SELECT b.doc_id,
             round(sum(ln((c.n2 + 1) / (c1.n1 + v.vsz))) / count(*), 4)
               AS mean_bigram_logprob
      FROM bigw b
      JOIN c2 c ON b.gram = c.gram
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
      GROUP BY b.doc_id
    ),
    bucketed AS (
      SELECT s.doc_id, d.lang, s.mean_bigram_logprob,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.mean_bigram_logprob DESC, s.doc_id)
               AS b
      FROM scores s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, mean_bigram_logprob,
           CASE b WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                  ELSE 'middle' END AS quality_bucket
    FROM bucketed
    ORDER BY doc_id
    """,
)
def ccnet_quality_buckets(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    scores = S.bigram_lm_doc_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return S.quality_buckets(
        scores, "mean_bigram_logprob", "lang", n_buckets=3, round_digits=4
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Naive-Bayes source classifier — the distributed quality-classifier
# stand-in (GPT-3 appendix A trains a linear classifier separating curated
# from raw text; the multinomial-NB twin is pure DataFrame algebra, so the
# "model" is two broadcast-sized frames). Train on even doc ids, score the
# odd ones; argmax over ROUNDED class scores with class-name tiebreak.
# ---------------------------------------------------------------------------


@query(
    "nb_source_classifier",
    oracle="""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    test AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    ttok AS (
      SELECT source AS label, doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM train
    ),
    class_tok AS (
      SELECT label, tok, CAST(count(*) AS DOUBLE) AS n
      FROM ttok GROUP BY label, tok
    ),
    class_stats AS (
      SELECT d.label, ct.tok_total, ln(d.n_docs / t.total_docs) AS log_prior
      FROM (SELECT source AS label, CAST(count(*) AS DOUBLE) AS n_docs
            FROM train GROUP BY source) d
      JOIN (SELECT label, sum(n) AS tok_total FROM class_tok GROUP BY label) ct
        USING (label)
      CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS total_docs FROM train) t
    ),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz FROM ttok),
    stok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM test
    ),
    scores AS (
      SELECT s.doc_id, cs.label,
             round(cs.log_prior
                   + sum(ln((coalesce(ct.n, 0) + 1)
                            / (cs.tok_total + v.vsz))), 6) AS score
      FROM stok s
      CROSS JOIN class_stats cs
      LEFT JOIN class_tok ct ON ct.label = cs.label AND ct.tok = s.tok
      CROSS JOIN v
      GROUP BY s.doc_id, cs.label, cs.log_prior
    ),
    pred AS (
      SELECT doc_id, label AS predicted, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label) AS rn
      FROM scores
    )
    SELECT t.doc_id, t.source AS actual, p.predicted, p.score,
           CAST(CASE WHEN t.source = p.predicted THEN 1 ELSE 0 END AS INT)
             AS correct
    FROM test t JOIN pred p ON p.doc_id = t.doc_id AND p.rn = 1
    ORDER BY t.doc_id
    """,
)
def nb_source_classifier(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    model = S.nb_train(train, label_col="source")
    pred = S.nb_score(test, model, round_digits=6)
    return (
        test.select("doc_id", F.col("source").alias("actual"))
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "actual",
            "predicted",
            "score",
            F.when(F.col("actual") == F.col("predicted"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights — hashed-bigram bucket frequencies, target
# (lang='en') vs raw (everything), add-one smoothed log-ratio summed per
# doc (Xie et al. 2023). Deciles over the rounded weight mark the
# resampling tiers a curator keeps. Bucket hash = portable md5 kernel, so
# DuckDB reproduces the buckets bit-for-bit.
# ---------------------------------------------------------------------------


@query(
    "dsir_importance_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(list_transform(range(0, len(t) - 1),
                                   i -> t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks
    ),
    """ + _dsir_bucket_ctes() + """,
    hist AS (
      SELECT bucket,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS n_t,
             CAST(count(*) AS DOUBLE) AS n_r
      FROM gb GROUP BY bucket
    ),
    tot AS (SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM hist),
    ratio AS (
      SELECT bucket,
             ln(((n_t + 1) / (tot_t + 1024))
                / ((n_r + 1) / (tot_r + 1024))) AS log_ratio
      FROM hist CROSS JOIN tot
    ),
    w AS (
      SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             round(sum(r.log_ratio), 4) AS dsir_weight
      FROM gb JOIN ratio r USING (bucket)
      GROUP BY gb.doc_id
    )
    SELECT w.doc_id, d.lang, w.n_grams, w.dsir_weight,
           CAST(ntile(10) OVER (ORDER BY w.dsir_weight DESC, w.doc_id)
                AS INT) AS decile
    FROM w JOIN documents d USING (doc_id)
    ORDER BY w.doc_id
    """,
)
def dsir_importance_weights(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    weights = S.dsir_weights(
        docs, target_pred=F.col("lang") == "en", n_buckets=1024, shingle_n=2
    )
    rounded = weights.select(
        "doc_id",
        "n_grams",
        F.round("dsir_weight", 4).alias("dsir_weight"),
    ).join(docs.select("doc_id", "lang"), "doc_id")
    # Exact global decile tier (oracle-checkable); at 100 TB swap for
    # approx-percentile thresholds — two scans, no single-task window.
    w = Window.orderBy(F.col("dsir_weight").desc(), F.col("doc_id"))
    return (
        rounded.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .select("doc_id", "lang", "n_grams", "dsir_weight", "decile")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered exact decontamination — identical RESULT to the exact
# 5-gram anti-join (the oracle), but the corpus side tests a broadcast
# Bloom bitset map-side (Arrow-batched mapInPandas) and only the candidate
# trickle reaches the exact verify join. Benchmark = doc_id < 15 here;
# corpus = the rest.
# ---------------------------------------------------------------------------


@query(
    "bloom_decontaminated_corpus",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(0, len(t) - 4),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                    t[i+4] || ' ' || t[i+5]))) AS gram
      FROM t
    ),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id < 15),
    dirty AS (
      SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
      WHERE g.doc_id >= 15
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id >= 15 AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
    ORDER BY d.doc_id
    """,
)
def bloom_decontaminated_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 15)
    benchmark = docs.filter(F.col("doc_id") < 15)
    return (
        S.bloom_decontaminate(corpus, benchmark, n=5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Curation capstone — the selection stage composed END-TO-END as one lazy
# plan, the way a curator actually runs it: bigram-LM quality tertiles per
# language (drop the CCNet tail), then DSIR importance deciles computed
# OVER THE SURVIVORS (stage order matters: the histograms describe the
# post-quality population), keep the top half. Mirrors the
# corpus_build_pipeline capstone pattern for the dedup→quality→mixture
# stages.
# ---------------------------------------------------------------------------


@query(
    "curated_selection_pipeline",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS gram
      FROM toks
    ),
    bigw AS (
      SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM big
    ),
    c2 AS (SELECT gram, CAST(count(*) AS DOUBLE) AS n2 FROM bigw GROUP BY gram),
    c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS n1 FROM bigw GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz
          FROM (SELECT unnest(t) AS tok FROM toks)),
    scores AS (
      SELECT b.doc_id,
             round(sum(ln((c.n2 + 1) / (c1.n1 + v.vsz))) / count(*), 4)
               AS lp
      FROM bigw b
      JOIN c2 c ON b.gram = c.gram
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
      GROUP BY b.doc_id
    ),
    bucketed AS (
      SELECT s.doc_id, d.lang,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.lp DESC, s.doc_id) AS b
      FROM scores s JOIN documents d USING (doc_id)
    ),
    keep AS (
      SELECT doc_id, lang,
             CASE b WHEN 1 THEN 'head' ELSE 'middle' END AS quality_bucket
      FROM bucketed WHERE b <> 3
    ),
    g AS (
      SELECT k.doc_id, k.lang = 'en' AS is_t,
             unnest(list_transform(range(0, len(t.t) - 1),
                                   i -> t.t[i+1] || ' ' || t.t[i+2])) AS gram
      FROM keep k JOIN toks t USING (doc_id)
    ),
    """ + _dsir_bucket_ctes() + """,
    hist AS (
      SELECT bucket,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS n_t,
             CAST(count(*) AS DOUBLE) AS n_r
      FROM gb GROUP BY bucket
    ),
    tot AS (SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM hist),
    ratio AS (
      SELECT bucket,
             ln(((n_t + 1) / (tot_t + 1024))
                / ((n_r + 1) / (tot_r + 1024))) AS log_ratio
      FROM hist CROSS JOIN tot
    ),
    w AS (
      SELECT gb.doc_id, round(sum(r.log_ratio), 4) AS dsir_weight
      FROM gb JOIN ratio r USING (bucket)
      GROUP BY gb.doc_id
    ),
    ranked AS (
      SELECT k.doc_id, k.lang, k.quality_bucket, w.dsir_weight,
             CAST(ntile(10) OVER (ORDER BY w.dsir_weight DESC, w.doc_id)
                  AS INT) AS decile
      FROM w JOIN keep k USING (doc_id)
    )
    SELECT doc_id, lang, quality_bucket, dsir_weight, decile
    FROM ranked WHERE decile <= 5
    ORDER BY doc_id
    """,
)
def curated_selection_pipeline(spark, sf_dir):
    from ..operators.dedup import materialize

    docs = table(spark, sf_dir, "documents")
    # ONE persisted bigram-occurrence frame feeds BOTH pipeline stages:
    # the LM scoring pass consumes it whole, and the DSIR stage consumes
    # it filtered to the quality survivors (its 2-gram shingles are the
    # identical space-joined bigrams — shingles_from_tokens(n=2) ≡
    # bigram_rows), so the corpus text is tokenized once. keep (doc-level)
    # is persisted too: it feeds the DSIR gram filter AND the final join,
    # and recomputing it replays the whole LM stage; the DSIR occurrences
    # feed its histogram and its weight join. Each frame's readers join
    # it on different keys, so exchange reuse cannot stand in for these
    # persists: one terminal pin runs the whole LM→keep→DSIR→decile plan
    # and releases all three (kept; SCALE.md, "Spark actions at build
    # time").
    big = S.bigram_rows(docs, with_w1=False).persist()
    scores = S.bigram_lm_doc_scores(docs, grams=big).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    keep = (
        S.quality_buckets(
            scores, "mean_bigram_logprob", "lang", n_buckets=3, round_digits=4
        )
        .filter(F.col("quality_bucket") != "tail")
        .persist()
    )
    dsir_grams = (
        big.join(
            keep.select("doc_id", (F.col("lang") == "en").alias("_is_target")),
            "doc_id",
        )
        .select("doc_id", "_is_target", "gram")
        .persist()
    )
    weights = S.dsir_weights(None, None, n_buckets=1024, grams=dsir_grams)
    ranked = weights.select(
        "doc_id", F.round("dsir_weight", 4).alias("dsir_weight")
    ).join(keep.select("doc_id", "lang", "quality_bucket"), "doc_id")
    w = Window.orderBy(F.col("dsir_weight").desc(), F.col("doc_id"))
    result = (
        ranked.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .filter(F.col("decile") <= 5)
        .select("doc_id", "lang", "quality_bucket", "dsir_weight", "decile")
        .orderBy("doc_id")
    )
    return materialize(result, big, keep, dsir_grams)


# ---------------------------------------------------------------------------
# CMS heavy hitters — exact top-k frequent tokens found through a count-min
# prefilter (operators/sketches.py): the sketch groupBy shuffles at most
# d×w keys however large the vocabulary, occurrences clear the threshold
# map-side against the broadcast grid, and the exact count re-check makes
# the RESULT identical to the plain top-k (so the oracle is the plain SQL —
# the salted_skew_join_counts discipline: the treatment changes the plan,
# never the answer).
# ---------------------------------------------------------------------------


@query(
    "cms_heavy_hitter_tokens",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM toks),
    counts AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok
    )
    SELECT tok, n FROM counts CROSS JOIN tot
    WHERE n >= greatest(1, CAST(ceil(total * 0.03) AS BIGINT))
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def cms_heavy_hitter_tokens(spark, sf_dir):
    from ..operators.dedup import tokens as _tokens
    from ..operators.sketches import cms_heavy_hitters

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    return cms_heavy_hitters(toks, min_share=0.03, top_k=20)


# ---------------------------------------------------------------------------
# NB classifier evaluation — per-class precision/recall/F1 + support over
# the held-out predictions (the M7 metrics view applied to the quality-
# classifier tier). Derived entirely from the nb_source_classifier frame;
# the aggregate is |classes|-sized.
# ---------------------------------------------------------------------------


@query(
    "nb_classifier_report",
    oracle="""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    test AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    ttok AS (
      SELECT source AS label, doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM train
    ),
    class_tok AS (
      SELECT label, tok, CAST(count(*) AS DOUBLE) AS n
      FROM ttok GROUP BY label, tok
    ),
    class_stats AS (
      SELECT d.label, ct.tok_total, ln(d.n_docs / t.total_docs) AS log_prior
      FROM (SELECT source AS label, CAST(count(*) AS DOUBLE) AS n_docs
            FROM train GROUP BY source) d
      JOIN (SELECT label, sum(n) AS tok_total FROM class_tok GROUP BY label) ct
        USING (label)
      CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS total_docs FROM train) t
    ),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz FROM ttok),
    stok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM test
    ),
    scores AS (
      SELECT s.doc_id, cs.label,
             round(cs.log_prior
                   + sum(ln((coalesce(ct.n, 0) + 1)
                            / (cs.tok_total + v.vsz))), 6) AS score
      FROM stok s
      CROSS JOIN class_stats cs
      LEFT JOIN class_tok ct ON ct.label = cs.label AND ct.tok = s.tok
      CROSS JOIN v
      GROUP BY s.doc_id, cs.label, cs.log_prior
    ),
    pred AS (
      SELECT doc_id, label AS predicted,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, label) AS rn
      FROM scores
    ),
    joined AS (
      SELECT t.source AS actual, p.predicted
      FROM test t JOIN pred p ON p.doc_id = t.doc_id AND p.rn = 1
    ),
    per_actual AS (
      SELECT actual AS label, CAST(count(*) AS BIGINT) AS support,
             CAST(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp
      FROM joined GROUP BY actual
    ),
    per_pred AS (
      SELECT predicted AS label, CAST(count(*) AS BIGINT) AS predicted_n
      FROM joined GROUP BY predicted
    )
    SELECT a.label, a.support,
           CAST(coalesce(p.predicted_n, 0) AS BIGINT) AS predicted_n,
           a.tp,
           round(CASE WHEN coalesce(p.predicted_n, 0) = 0 THEN 0.0
                      ELSE a.tp / CAST(p.predicted_n AS DOUBLE) END, 4)
             AS precision,
           round(a.tp / CAST(a.support AS DOUBLE), 4) AS recall,
           round(CASE WHEN coalesce(p.predicted_n, 0) = 0 OR a.tp = 0 THEN 0.0
                      ELSE 2.0 * a.tp / CAST(p.predicted_n + a.support
                                             AS DOUBLE) END, 4) AS f1
    FROM per_actual a LEFT JOIN per_pred p USING (label)
    ORDER BY a.label
    """,
)
def nb_classifier_report(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    model = S.nb_train(train, label_col="source")
    pred = S.nb_score(test, model, round_digits=6)
    joined = test.select(
        "doc_id", F.col("source").alias("actual")
    ).join(pred.select("doc_id", "predicted"), "doc_id")
    per_actual = joined.groupBy(F.col("actual").alias("label")).agg(
        F.count(F.lit(1)).alias("support"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0)
        ).alias("tp"),
    )
    per_pred = joined.groupBy(F.col("predicted").alias("label")).agg(
        F.count(F.lit(1)).alias("predicted_n")
    )
    pn = F.coalesce(F.col("predicted_n"), F.lit(0))
    # F1 = 2·tp / (predicted_n + support): algebraically 2PR/(P+R) without
    # the 0/0 guards on the intermediate ratios
    return (
        per_actual.join(per_pred, "label", "left")
        .select(
            "label",
            "support",
            pn.cast("long").alias("predicted_n"),
            "tp",
            F.round(
                F.when(pn == 0, F.lit(0.0)).otherwise(
                    F.col("tp") / pn.cast("double")
                ),
                4,
            ).alias("precision"),
            F.round(
                F.col("tp") / F.col("support").cast("double"), 4
            ).alias("recall"),
            F.round(
                F.when((pn == 0) | (F.col("tp") == 0), F.lit(0.0)).otherwise(
                    2.0
                    * F.col("tp")
                    / (pn + F.col("support")).cast("double")
                ),
                4,
            ).alias("f1"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# DSIR deciles, scale tier — same answer as dsir_importance_weights (same
# oracle: DuckDB's real ntile), but the decile comes from the range-
# partitioned exact rank + closed-form NTILE arithmetic
# (operators/ranks.py::ntile_distributed) instead of a single-task global
# window — the form that survives 100 TB. This closes the "swap for a
# distributed form at scale" note on the exact tier concretely.
# ---------------------------------------------------------------------------


@query(
    "dsir_deciles_distributed",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(list_transform(range(0, len(t) - 1),
                                   i -> t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks
    ),
    """ + _dsir_bucket_ctes() + """,
    hist AS (
      SELECT bucket,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS n_t,
             CAST(count(*) AS DOUBLE) AS n_r
      FROM gb GROUP BY bucket
    ),
    tot AS (SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM hist),
    ratio AS (
      SELECT bucket,
             ln(((n_t + 1) / (tot_t + 1024))
                / ((n_r + 1) / (tot_r + 1024))) AS log_ratio
      FROM hist CROSS JOIN tot
    ),
    w AS (
      SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             round(sum(r.log_ratio), 4) AS dsir_weight
      FROM gb JOIN ratio r USING (bucket)
      GROUP BY gb.doc_id
    )
    SELECT w.doc_id, d.lang, w.n_grams, w.dsir_weight,
           CAST(ntile(10) OVER (ORDER BY w.dsir_weight DESC, w.doc_id)
                AS INT) AS decile
    FROM w JOIN documents d USING (doc_id)
    ORDER BY w.doc_id
    """,
)
def dsir_deciles_distributed(spark, sf_dir):
    from ..operators.ranks import ntile_distributed

    docs = table(spark, sf_dir, "documents")
    weights = S.dsir_weights(
        docs, target_pred=F.col("lang") == "en", n_buckets=1024, shingle_n=2
    )
    rounded = weights.select(
        "doc_id",
        "n_grams",
        F.round("dsir_weight", 4).alias("dsir_weight"),
    ).join(docs.select("doc_id", "lang"), "doc_id")
    tiled = ntile_distributed(
        rounded,
        [("dsir_weight", "desc"), ("doc_id", "asc")],
        q=10,
        out="decile",
    )
    return tiled.select(
        "doc_id", "lang", "n_grams", "dsir_weight", "decile"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# CCNet buckets, scale tier — same answer and oracle as
# ccnet_quality_buckets (DuckDB's real partitioned ntile), but the
# per-language tertile comes from ONE bucketed rank pass ordered by
# (lang, score, doc_id) + closed-form NTILE arithmetic on within-group
# ranks (operators/ranks.py::grouped_ntile_distributed) — a dominant
# language spans many range partitions instead of one window task. Closes
# the exact tier's "approx thresholds at 100 TB" note with an EXACT
# distributed form instead.
# ---------------------------------------------------------------------------


@query(
    "ccnet_buckets_distributed",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS gram
      FROM toks
    ),
    bigw AS (
      SELECT doc_id, gram, string_split(gram, ' ')[1] AS w1 FROM big
    ),
    c2 AS (SELECT gram, CAST(count(*) AS DOUBLE) AS n2 FROM bigw GROUP BY gram),
    c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS n1 FROM bigw GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vsz
          FROM (SELECT unnest(t) AS tok FROM toks)),
    scores AS (
      SELECT b.doc_id,
             round(sum(ln((c.n2 + 1) / (c1.n1 + v.vsz))) / count(*), 4)
               AS mean_bigram_logprob
      FROM bigw b
      JOIN c2 c ON b.gram = c.gram
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
      GROUP BY b.doc_id
    ),
    bucketed AS (
      SELECT s.doc_id, d.lang, s.mean_bigram_logprob,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY s.mean_bigram_logprob DESC, s.doc_id)
               AS b
      FROM scores s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, mean_bigram_logprob,
           CASE b WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                  ELSE 'middle' END AS quality_bucket
    FROM bucketed
    ORDER BY doc_id
    """,
)
def ccnet_buckets_distributed(spark, sf_dir):
    from ..operators.ranks import grouped_ntile_distributed

    docs = table(spark, sf_dir, "documents")
    scores = S.bigram_lm_doc_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    rounded = scores.select(
        "doc_id",
        "lang",
        F.round("mean_bigram_logprob", 4).alias("mean_bigram_logprob"),
    )
    tiled = grouped_ntile_distributed(
        rounded,
        ["lang"],
        [("mean_bigram_logprob", "desc"), ("doc_id", "asc")],
        q=3,
        out="_b",
    )
    label = (
        F.when(F.col("_b") == 1, F.lit("head"))
        .when(F.col("_b") == 3, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return tiled.select(
        "doc_id",
        "lang",
        "mean_bigram_logprob",
        label.alias("quality_bucket"),
    ).orderBy("doc_id")
