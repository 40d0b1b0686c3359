"""Text-analysis operators for the documents table.

Language-ID (stopword heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish regex), and document
fingerprinting — all native Column expressions (split/filter/aggregate/md5),
oracle-portable and UDF-free. At 100 TB these are map-only over the corpus:
no shuffle at all until an aggregation is requested.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import tokens

# Tiny per-language stopword lists for the heuristic language scorer.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "et", "les", "de"],
    "es": ["el", "la", "y", "los", "que"],
}
ENGLISH_STOPWORDS = STOPWORDS["en"]


def whitespace_token_count(col):
    return F.size(tokens(col))


def bpe_ish_token_count(col):
    """Rough BPE-style subword count: word-chars in ~4-char chunks + symbols.

    count ≈ ceil(len(word)/4) summed over words, plus standalone punctuation;
    expressed as a closed-form character computation so it stays native.
    """
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"),
    )


def stopword_ratio(col, stopwords=None):
    sw = stopwords or ENGLISH_STOPWORDS
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return hits * 1.0 / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col):
    """Share of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) * 1.0 / F.greatest(F.length(col), F.lit(1))


def quality_score(col):
    """Reference-style composite score (data_quality.py weights idea):
    favors mid-length docs with real words and low punctuation noise."""
    length_score = F.least(F.length(col) / 200.0, F.lit(1.0))
    sw = stopword_ratio(col)
    punct = punct_ratio(col)
    return F.round(length_score * 0.4 + sw * 0.4 + (1.0 - punct) * 0.2, 6)


def _stopword_hits(toks, sw):
    # single-arg lambda: a 2-arg lambda would be treated as (element, index)
    return F.size(F.filter(toks, lambda t: t.isin(*sw)))


def language_scores(col):
    """Per-language stopword-hit counts (the classic n-gram/stopword LID)."""
    toks = tokens(col)
    return {lang: _stopword_hits(toks, sw) for lang, sw in STOPWORDS.items()}


def detect_language(col):
    """Argmax language by stopword hits with deterministic tie order
    (en > de > fr > es > unknown-zero ⇒ 'und')."""
    scores = language_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # build reversed so earlier langs win ties via later .when precedence
    chain = F.when(best == 0, "und")
    for lang in ["en", "de", "fr", "es"]:
        chain = chain.when(scores[lang] == best, lang)
    return chain.otherwise(expr)


def doc_fingerprint(col):
    """Order-insensitive content fingerprint: md5 over sorted distinct tokens.

    Portable (md5 exists in DuckDB) and robust to token reordering — the
    cheap first tier before MinHash.
    """
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def rolling_fingerprint_rows(df, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4):
    """Winnowing fingerprints: rolling character k-gram hashes, min hash per
    w-length window, dedup — the MOSS/winnowing scheme. Returns one row per
    (id, fingerprint).

    Shape: explode positions → one portable hash per (doc, pos) → windowed
    min over a pos frame per doc → distinct. Linear in text length (an
    array-HOF formulation recomputes the gram array per window element —
    Catalyst collapses the projections and re-inlines the expression, which
    measured O(n²) md5 calls). The window partitions by doc id: bounded
    per-doc state, no skew for bounded documents.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    text = F.col(text_col)
    n_grams = F.greatest(F.length(text) - k + 1, F.lit(1))
    pos_df = df.select(
        F.col(id_col),
        F.col(text_col),
        n_grams.alias("_n_grams"),
        F.posexplode(F.sequence(F.lit(1), n_grams)).alias("_ix", "pos"),
    ).withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(F.expr(f"substring({text_col}, pos, {k})")), 1, 15
            ),
            16,
            10,
        ).cast("long"),
    ).drop(text_col)
    frame = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    wins = pos_df.withColumn("wmin", F.min("h").over(frame)).filter(
        F.col("pos") <= F.greatest(F.col("_n_grams") - w + 1, F.lit(1))
    )
    return wins.select(
        F.col(id_col), F.col("wmin").alias("fingerprint")
    ).distinct()


def normalize_text(col):
    """C4-style cleaning normalization, all native expressions: lowercase,
    strip non-alphanumeric/space characters, collapse whitespace runs, trim.
    The canonical pre-dedup normalization pass of a training-data pipeline —
    exact dedup runs on the NORMALIZED text so case/punct variants collide.
    """
    cleaned = F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", "")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def gopher_quality_flags(col):
    """Gopher-style quality-filter signals (Rae et al. 2021 §A1.1 idea, on
    the stats expressible natively): word count bounds, mean word length
    bounds, symbol-to-word ratio cap. Returns a struct of the signals plus
    the composite keep/drop decision — pipelines log the per-rule flags and
    filter on `keep`."""
    toks = tokens(col)
    n_words = F.size(toks)
    mean_word_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_words, F.lit(1))
    symbols = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    symbol_ratio = symbols / F.greatest(n_words, F.lit(1))
    ok_words = (n_words >= 5) & (n_words <= 100_000)
    ok_word_len = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    ok_symbols = symbol_ratio < 0.5
    return F.struct(
        n_words.alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        ok_words.alias("ok_words"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        (ok_words & ok_word_len & ok_symbols).alias("keep"),
    )


def shared_span_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_df: int = 10,
    min_shared: int = 2,
):
    """Exact shared-substring near-dup PAIRS via the winnowing inverted
    index (the substring-dedup flavor of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): two docs sharing any
    substring of length ≥ k + w - 1 chars are guaranteed to share a
    winnowed fingerprint, so the fingerprint inverted index finds every
    long-span overlap without an all-pairs scan.

    ``max_df`` is the ubiquitous-gram guard (the PPJoin move): fingerprints
    present in more than ``max_df`` docs index nothing — a corpus-wide
    common phrase would otherwise contribute ~N² pairs. ``min_shared``
    requires that many distinct rare fingerprints per pair (one shared
    8-gram is noise on a small vocabulary; spans share many).

    Shuffle profile: fingerprint agg (per doc) → document-frequency count
    window on the fingerprint → self-join on fingerprint (rare ones only;
    both sides reuse the window's exchange, so the fingerprint pipeline
    runs once per action) → pair count agg. All bounded: each rare
    fingerprint contributes ≤ C(max_df, 2) pairs.
    """
    from pyspark.sql import Window

    rare = (
        rolling_fingerprint_rows(df, text_col, id_col, k=k, w=w)
        .withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
        )
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    a = rare.alias("a")
    b = rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def repetition_metrics(df, text_col: str = "text", id_col: str = "doc_id"):
    """Within-document repetition signals (the Gopher repetition family,
    Rae et al. 2021 §A1.1): duplicate-token fraction and the share of the
    most frequent bigram. High values flag boilerplate/spam docs that slip
    past cross-doc dedup (repetition is INTERNAL to the doc).

    One shuffle: the bigram top-count agg; token counts are map-only.
    """
    from .dedup import shingles_from_tokens

    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    base = toks_df.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("n_distinct"),
    )
    bi = toks_df.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("bg"),
    )
    top = (
        bi.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("top_bigram_cnt"))
    )
    return (
        base.join(top, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_tokens"), 6
            ).alias("dup_token_ratio"),
            F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
            F.when(
                F.col("n_tokens") > 1,
                F.round(
                    F.coalesce("top_bigram_cnt", F.lit(0))
                    / (F.col("n_tokens") - F.lit(1.0)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("top_bigram_share"),
        )
    )


# PII redaction patterns: deliberately conservative, engine-portable regexes
# (same semantics under Java regex and RE2). Each maps to a typed tag.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}(?:[- .][0-9]{2,4})?",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


# Redaction order is LOAD-BEARING: emails first (their digits/dots never
# reach later passes), IPv4 before phone (a dotted IP like 192.168.255.254
# parses as a dot-separated phone otherwise). Counts use the same
# sequential semantics: each kind is counted on the text with earlier kinds
# already redacted, so one substring is never double-counted.
PII_KINDS = ("email", "ipv4", "phone")


def redact_pii(col, kinds: tuple = PII_KINDS):
    """Training-data PII scrubbing: replace emails / IPv4 addresses / phone
    numbers with typed tags (``<EMAIL>`` …) — map-only regexp_replace
    chain, no UDF."""
    out = col
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(col, kinds: tuple = PII_KINDS):
    """Per-kind PII match counts (audit signal logged next to redaction),
    counted sequentially on the progressively-redacted text."""
    out = col
    fields = []
    for kind in kinds:
        fields.append(
            F.size(
                F.regexp_extract_all(out, F.lit(PII_PATTERNS[kind]), F.lit(0))
            ).alias(f"n_{kind}")
        )
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return F.struct(*fields)


def contamination_report(
    docs,
    benchmark,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Train/test contamination detection (the decontamination pass of a
    training-data pipeline, e.g. GPT-3 appendix C / PaLM §7): flag training
    docs sharing any n-token gram with a BENCHMARK set, with the count of
    distinct shared grams as the evidence strength.

    Shape: benchmark grams are distinct-collected and broadcast (benchmark
    suites are model-sized next to a training corpus); the corpus side is
    one map-side explode + broadcast semi-style join + per-doc count — the
    corpus never shuffles on its own size, only the (tiny) hit set
    aggregates. Grams join as strings here for oracle exactness; at 100 TB
    hash them (xxhash64) to shrink the broadcast and the shuffle keys.
    """
    from .dedup import shingles_from_tokens

    def grams(df):
        return (
            df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
            .select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(shingles_from_tokens(F.col("_toks"), n))
                ).alias("gram"),
            )
        )

    bench_grams = grams(benchmark).select("gram").distinct()
    hits = (
        grams(docs)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    report = (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )
    # lazy on purpose: the report is corpus-row-sized (one row per training
    # doc) and this pipeline persists no intermediates — an eager
    # localCheckpoint here would full-compute and pin the whole corpus even
    # for callers who immediately filter to the contaminated subset
    return report


def chunk_assignments(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap: int = 8,
):
    """Split each document into fixed-size token windows with overlap —
    the complement of sequence packing (`ranks.pack_by_token_budget`
    combines short docs; this splits long ones). Emits one row per
    (doc, chunk): chunk_id, token start offset, chunk length.

    Stride = chunk_tokens - overlap; the final chunk is the short
    remainder (trainers pad it). A start only spawns a chunk if it adds at
    least one NEW token beyond the overlap — a remainder <= overlap is
    already fully contained in the previous chunk, and emitting it would
    duplicate training data (sequence upper bound n-1-overlap). Map-only:
    per-row sequence + explode, no shuffle, no state — the chunk set for a
    doc is a pure function of its token count, so re-runs and the SQL
    oracle agree exactly.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # NULL text must contribute NO chunks: without the filter, greatest()
    # and least() SKIP null operands, so a NULL doc leaked one phantom row
    # (n_tokens NULL, chunk_len = chunk_tokens) instead of disappearing.
    # The synthetic corpus has no NULL texts, so oracle rows are unchanged.
    df = df.filter(F.col(text_col).isNotNull())
    n = F.size(tokens(F.col(text_col)))
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1 - overlap, F.lit(0)), F.lit(stride)
    )
    out = df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.posexplode(starts).alias("chunk_id", "chunk_start"),
    )
    return out.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.least(
            F.lit(chunk_tokens), F.col("n_tokens") - F.col("chunk_start")
        )
        .cast("long")
        .alias("chunk_len"),
    )


# AFINN-style sentiment lexicon (SURVEY §7.2 item 9) over the synthetic
# corpus vocabulary — word -> signed weight. Real deployments swap in the
# full AFINN/VADER table; the operator shape (map literal folded into one
# token pass) is identical at any lexicon size that fits an expression.
SENTIMENT_LEXICON = {
    "fast": 2,
    "small": 1,
    "merge": 1,
    "slow": -2,
    "big": -1,
    "dup": -3,
}


def sentiment_terms(col, lexicon: dict[str, int] | None = None):
    """(score, pos_hits, neg_hits) struct per text: token weights summed
    with multiplicity in one pass over the token array — map-only, no
    shuffle, exact integer arithmetic (engine-portable)."""
    lex = SENTIMENT_LEXICON if lexicon is None else lexicon
    toks = tokens(col)
    weights = F.transform(
        toks,
        lambda t: F.coalesce(
            F.element_at(
                F.create_map(
                    *[F.lit(x) for kv in lex.items() for x in kv]
                ),
                t,
            ),
            F.lit(0),
        ),
    )
    return F.struct(
        F.aggregate(weights, F.lit(0), lambda a, v: a + v).alias("score"),
        F.size(F.filter(weights, lambda w: w > 0)).alias("pos_hits"),
        F.size(F.filter(weights, lambda w: w < 0)).alias("neg_hits"),
    )


def line_dedup(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 8,
):
    """Corpus-wide exact span dedup with document reassembly — the
    C4/MassiveText "remove repeated lines" pass, over fixed-width token
    spans (the synthetic corpus has no newline structure, so a pseudo-line
    is ``line_tokens`` consecutive tokens; on real web text the splitter
    would be newline/sentence-based, the plan identical). Every span keeps
    exactly its FIRST corpus occurrence (min (doc, position) — the same
    keep-min-id rule as `dedup.survivors`); later occurrences anywhere in
    the corpus are cut, and each doc is rebuilt from its surviving spans in
    order.

    Emits one row per input doc: the rebuilt (normalized) text plus
    kept/removed span counts — '' when every span was seen earlier.

    Scale: the span explode is map-side; the first-occurrence choice is ONE
    groupBy on the span value whose output rows ARE the survivors (min
    struct aggregation — no window over a potentially massive duplicate
    group, no self-join back); reassembly is one groupBy + one join on the
    doc key, which share an exchange. Span working set ≈ corpus tokens /
    line_tokens rows.
    """
    toks = tokens(F.col(text_col))
    spans = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(line_tokens)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, line_tokens)),
            )
        ).alias("pos", "line"),
    )
    # survivors: one row per distinct span = its first corpus occurrence
    kept = spans.groupBy("line").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_k")
    )
    rebuilt = (
        kept.select(F.col(f"_k.{id_col}").alias(id_col), F.col("_k.pos").alias("pos"), "line")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("_text"),
            F.count("*").alias("_kept"),
        )
    )
    n_lines = F.size(F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(line_tokens)))
    return (
        df.select(F.col(id_col), n_lines.cast("long").alias("_n"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("_text", F.lit("")).alias(text_col),
            F.coalesce("_kept", F.lit(0)).cast("long").alias("lines_kept"),
            (F.col("_n") - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("lines_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training. The corpus never leaves the cluster:
# each merge round is one pair-count aggregation (explode adjacent symbol
# pairs weighted by word frequency, groupBy, sum) of which only the single
# argmax row reaches the driver; the chosen merge applies as a map-side
# fold over the symbol arrays. Lineage is localCheckpoint-bounded like
# connected_components. Greedy left-to-right, non-overlapping within a
# round; ties break on (count desc, left, right) so training is
# deterministic.
# ---------------------------------------------------------------------------


def word_frequencies(df, text_col: str = "text"):
    """(word, cnt, syms) — the BPE working set: distinct words with corpus
    frequencies and their character-symbol arrays."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "syms", F.filter(F.split(F.col("w"), ""), lambda s: s != "")
        )
    )


def symbol_pair_counts(words):
    """Adjacent-pair frequencies over the (word, cnt, syms) working set —
    the per-round BPE kernel: explode zip(syms, tail(syms)), weight by
    word count. One shuffle."""
    pairs = words.select(
        "cnt",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("p"),
    )
    return (
        pairs.select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _merge_pair_expr(syms_col, left: str, right: str):
    """Apply one merge rule to a symbol array: greedy left-to-right fold —
    when the carried symbol is `left` and the current is `right`, emit the
    merged symbol and clear the carry (a merged symbol never re-pairs
    within the same round)."""
    l, r = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("carry")
    )
    step = lambda acc, s: F.when(  # noqa: E731
        (acc["carry"] == l) & (s == r),
        F.struct(
            F.concat(acc["out"], F.array(merged)).alias("out"),
            F.lit("").alias("carry"),
        ),
    ).otherwise(
        F.struct(
            F.when(
                acc["carry"] == "", acc["out"]
            ).otherwise(F.concat(acc["out"], F.array(acc["carry"]))).alias("out"),
            s.alias("carry"),
        )
    )
    fin = lambda acc: F.when(  # noqa: E731
        acc["carry"] == "", acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["carry"])))
    return F.aggregate(syms_col, init, step, fin)


def bpe_train(
    df,
    text_col: str = "text",
    n_merges: int = 30,
    checkpoint_interval: int = 5,
) -> list[tuple[int, str, str]]:
    """Train `n_merges` BPE merge rules on the corpus. Returns
    [(rank, left, right)]; stops early when no pair repeats."""
    words = word_frequencies(df, text_col).persist()
    # the parent frame must stay cached until an ACTION materializes its
    # child's persist (persist() is lazy): unpersisting it eagerly would
    # leave every non-checkpoint round uncached and each pair-count pass
    # recomputing all merge folds since the last checkpoint. So the parent
    # is released only after the NEXT round's .first() has filled the
    # child's cache; eager localCheckpoints materialize in place and free
    # their parent immediately.
    parent_pending: object | None = None
    merges: list[tuple[int, str, str]] = []
    for rank in range(n_merges):
        best = (
            symbol_pair_counts(words)
            .orderBy(F.desc("pair_count"), "l", "r")
            .first()
        )
        if parent_pending is not None:
            parent_pending.unpersist()
            parent_pending = None
        if best is None or best["pair_count"] < 2:
            break
        merges.append((rank, best["l"], best["r"]))
        new_words = words.withColumn(
            "syms", _merge_pair_expr(F.col("syms"), best["l"], best["r"])
        )
        if (rank + 1) % checkpoint_interval == 0:
            new_words = new_words.localCheckpoint(eager=True)
            words.unpersist()
        else:
            new_words = new_words.persist()
            parent_pending = words
        words = new_words
    if parent_pending is not None:
        parent_pending.unpersist()
    words.unpersist()
    return merges


def bpe_encode(
    df,
    merges: list[tuple[int, str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Tokenize each document with trained BPE merge rules; returns
    (id, tokens array<string>, n_tokens).

    The classic encoder: split each word to characters, then repeatedly
    apply the LOWEST-RANK applicable merge until none applies — exactly the
    order the rules were learned, so encode(train_corpus) reproduces the
    training segmentation.

    Scale posture: the merge table is model-sized (a few k rules) and ships
    to executors inside the closure — no join, no shuffle; encoding is
    map-only over the corpus via Arrow-batched ``mapInPandas``. Word→tokens
    results are memoized across the TASK's batches (natural text repeats
    words heavily — Zipf — so per-row cost collapses to a dict lookup),
    with a size cap so a heavy-tailed partition vocabulary (URLs, numbers)
    cannot grow executor memory unboundedly over a multi-GB task.
    Python-side because rank-order merging is a per-word loop with a
    data-dependent trip count — not expressible as a bounded Column fold;
    the TRAINING kernel stays native (bpe_train)."""
    ranks = {(l, r): k for k, l, r in merges}
    out_schema = f"{id_col} long, tokens array<string>, n_tokens int"
    memo_cap = 1_000_000

    def encode_word(word: str, memo: dict) -> list[str]:
        got = memo.get(word)
        if got is not None:
            return got
        if len(memo) >= memo_cap:
            memo.clear()
        syms = list(word)
        while len(syms) > 1:
            best_rank = None
            best_i = -1
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_rank, best_i = rk, i
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        memo[word] = syms
        return syms

    def encode(batches):
        import pandas as pd

        memo: dict = {}
        for pdf in batches:
            toks = []
            for text in pdf[text_col]:
                words = (text or "").lower().split()
                doc: list[str] = []
                for w in words:
                    doc.extend(encode_word(w, memo))
                toks.append(doc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tokens": toks,
                    "n_tokens": [len(t) for t in toks],
                }
            )

    return df.select(id_col, text_col).mapInPandas(encode, schema=out_schema)


def chunk_text_udtf():
    """Python UDTF (the one-row→many-rows escape hatch, SURVEY §2.12):
    emit each document's chunk TEXT — the materialized complement of
    :func:`chunk_assignments`, which emits only offsets. Chunk boundaries
    are the IDENTICAL pure function of the token count (stride
    ``chunk_tokens - overlap``, final short remainder kept, no
    fully-overlapped tail), asserted equal in tests and replicated by the
    SQL oracle via list slicing.

    Scale posture: a UDTF is row-local Python — map-only, no state, no
    shuffle; rows stream through the worker one Arrow batch at a time.
    Used via LATERAL join (``FROM documents d, LATERAL chunk_text(...)``),
    which Spark plans as a Generate node, same shape as the native
    posexplode. Native expressions remain the default tier; this surface
    exists for logic a Column tree can't express (and as the registered
    demonstration that the engine supports SQL-visible Python table
    functions).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, chunk_start int, chunk_text string, chunk_len int")
    class ChunkText:
        def eval(self, text: str, chunk_tokens: int, overlap: int):
            import re

            stride = chunk_tokens - overlap
            if stride <= 0:
                raise ValueError("overlap must be smaller than chunk_tokens")
            # re.split, not str.split: Spark's split("") → [""] (one empty
            # token), the established tokens()/oracle semantics this tier
            # must reproduce — str.split("") would yield [] and diverge on
            # empty documents
            toks = re.split(r"\s+", (text or "").strip().lower())
            n = len(toks)
            last_start = max(n - 1 - overlap, 0)
            for cid, s in enumerate(range(0, last_start + 1, stride)):
                chunk = toks[s : s + chunk_tokens]
                yield cid, s, " ".join(chunk), len(chunk)

    return ChunkText
