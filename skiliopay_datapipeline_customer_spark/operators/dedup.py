"""Deduplication operator family for a large-scale training-data pipeline.

Beyond the reference's U1 drop_duplicates (src/processing/etl_pipeline.py:
140-143), this implements the LLM-data-pipeline dedup ladder:

- exact:        content-hash groupBy (md5) — one shuffle on the hash.
- n-gram Jaccard: token-set similarity via an inverted-index self-join —
                exact, but O(pairs sharing a token); the verification tier.
- MinHash+LSH:  shingle → k minhashes → b bands → bucket-join candidates →
                (optionally) exact-Jaccard verify. The 100 TB path: cost is
                O(docs × k) map-side plus a shuffle on (band, bucket-hash);
                no all-pairs blowup.
- SimHash:      64-bit fingerprint; near-dups differ in few bits. Map-only
                fingerprint + groupBy on rotated prefixes for banding.

Everything is native Column expressions (xxhash64, transform, aggregate) —
no Python UDFs, whole-stage codegen end to end.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import fan_out


def materialize(df: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Run ``df``'s plan once, pin the (small) result via localCheckpoint,
    and release the persisted intermediates that fed it.

    The callers that keep this pin are listed in SCALE.md, "Spark
    actions at build time": :func:`ngram_jaccard_pairs`, whose caches
    must be populated before its joins are planned; the distributed
    tiers of :func:`connected_components`, whose rounds truncate
    lineage; and the ones that measured faster pinned than lazy —
    curated_selection_pipeline, and the bigram LM scorer and DSIR when
    they build their own occurrence frame. Every other operator of the
    family returns a lazy plan. The checkpointed RDD is released by the
    ContextCleaner once the result is garbage collected.
    """
    out = df.localCheckpoint(eager=True)
    for d in intermediates:
        d.unpersist()
    return out


def tokens(col):
    """Lowercased whitespace tokens; trims to avoid empty edge tokens."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def distinct_tokens(col):
    return F.array_distinct(tokens(col))


def content_hash(col):
    """Deterministic exact-dup key (md5 — portable to the DuckDB oracle)."""
    return F.md5(col)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact content hash. One shuffle on the hash."""
    return (
        df.withColumn("_h", content_hash(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_h")
    )


def shingles_from_tokens(toks_col, n: int):
    """n-gram shingles from an ALREADY-SPLIT token array column.

    Take ``toks_col`` as an attribute reference (a projected column), not an
    inline ``split(...)`` expression: higher-order functions evaluate
    interpreted, and this tree references the token array three times (the
    guard, the index bound, the transform) — inlining the split re-runs the
    regex per reference, measured ~2.5× slower on the shingle explode.
    ``element_at`` per gram position instead of ``slice`` skips the
    per-shingle subarray allocation.

    Docs shorter than ``n`` tokens have NO n-shingles — empty array, same as
    the oracles' ``range(0, len - n + 1)`` (empty for short docs)."""
    idx = F.sequence(F.lit(0), F.size(toks_col) - n)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks_col, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(F.size(toks_col) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(col, n: int = 3):
    """n-gram word shingles as an array column. Prefer projecting
    :func:`tokens` first and calling :func:`shingles_from_tokens` on the
    attribute — this convenience form re-evaluates the split per reference
    (see shingles_from_tokens)."""
    return shingles_from_tokens(tokens(col), n)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per doc with columns mh_0..mh_{k-1}.

    Scalable shape: explode shingles ONCE, hash each (shingle, seed_j)
    JVM-side, then a single groupBy(doc) computing all k mins — partial
    (map-side) aggregation makes the shuffle k longs per doc regardless of
    doc length. (A per-row nested array expression recomputes the shingle
    array k times and melts codegen — measured 60× slower.)
    """
    # fan_out: the shingle+hash kernel below is the expensive stage; a
    # one-row-group scan would otherwise run it on a single core
    shingled = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("sh"),
    )
    # hash the shingle STRING once, derive the k family members by mixing
    # the resulting long with the seed — hashing (long, int) is a fixed-width
    # JVM op vs re-hashing a ~20-char string k times
    base = shingled.select(F.col(id_col), F.xxhash64("sh").alias("_h0"))
    # SQL-text aggregates: {j} parses to the same IntegerType literal as
    # F.lit(j), so the seed-mix hash is bit-identical (r13 — py4j
    # construction cost, see _portable_hash64_sql)
    return base.groupBy(id_col).agg(
        *[
            F.expr(f"min(xxhash64(_h0, {j}))").alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH banding rows — the joinable/persistable form of
    a document's minhash signature. Feeds the full-corpus self-join
    (:func:`minhash_lsh_candidates`) and, written to a parquet signature
    store partitioned by band, the incremental ingestion tier
    (:func:`incremental_lsh_candidates`)."""
    if num_hashes % bands:
        # a remainder would silently drop the trailing hashes from every
        # bucket — the effective signature wouldn't be what the caller asked
        # for (same contract as train_pq_codebooks' dim % m check)
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # multi-arg xxhash64 hashes the raw longs — no
                        # string casts/concat in the generated code
                        F.xxhash64(
                            *[
                                F.col(f"mh_{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding. Returns (id_a, id_b, n_bands).

    Shuffle profile: signature agg (k longs/doc) → explode into `bands` rows
    keyed by (band_id, hash(band slice)) → self-join on bucket → pair counts.
    At 100 TB: bucket sizes are the skew risk; AQE skew split plus the
    bucket-size cap bound the pair blowup — one degenerate bucket (thousands
    of identical or near-empty docs) would otherwise go quadratic. Buckets
    over `max_bucket_size` are dropped before the self-join; their members
    belong in the EXACT-dedup tier (identical content collides in every
    band), which runs first in the ladder.
    """
    banded = minhash_band_buckets(df, text_col, id_col, num_hashes, bands, shingle_n)
    raw = capped_bucket_pairs(banded, id_col, max_bucket_size)
    return raw.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands"))


def capped_bucket_pairs(
    bb: DataFrame, id_col: str, max_bucket_size: int
) -> DataFrame:
    """(id, band, bucket) rows → candidate id pairs (``id_a < id_b``), one
    output row per shared bucket — the self-join core of the minhash
    text-dedup tiers. (The random-plane embedding tier,
    ``similarity.lsh_dup_pairs``, verifies each bucket in place and
    needs no self-join.)

    Bucket-size cap as a count window over the self-join key, not a
    groupBy+join-back: ONE exchange on (band, bucket) that the self-join
    then REUSES (the window leaves both sides hash-partitioned on exactly
    the join key, so the sort-merge join adds no new shuffle) — vs three
    exchanges for the agg + two join sides. Both sides are the same plan,
    so exchange reuse runs the upstream signature/projection pipeline and
    the exchange once per action; nothing is persisted. The exchange is an
    explicit ``repartition`` to the session's shuffle partition count: the
    banded rows are small, so AQE would coalesce an ordinary exchange to
    one partition, and the candidate join and everything the caller
    chains onto it would then run as ONE task (measured at sf0.1 on the
    embedding tier's former cosine verify: a 5.8 s single-task stage that
    takes 1.9 s over 8 partitions). Buckets over ``max_bucket_size`` are
    dropped before the join (degenerate-mass skew guard).
    """
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "bucket")
    nparts = int(bb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    capped = (
        bb.repartition(nparts, "band", "bucket")
        .withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Ingestion-time dedup: candidate pairs for a NEW batch of documents
    against a persistent signature ``store`` — (id, band, bucket) rows from
    every prior batch (:func:`minhash_band_buckets`, written partitioned by
    band) — plus within-batch pairs. Returns ``(pairs, store_additions)``:
    append ``store_additions`` to the store after the batch commits.

    Equivalence contract (tested): the pair set equals a FULL-corpus
    :func:`minhash_lsh_candidates` run restricted to pairs touching a new
    document — same bucket caps, same band counts — while touching only
    O(batch) signature work and a bucket-keyed join against the store
    (partition-pruned on band; historical text is never re-shingled,
    re-hashed, or re-scanned). Both frames are lazy and share the batch's
    signature plan: a caller that runs both persists ``store_additions``
    first (``streaming.sinks.dedup_ingest`` does), so the signatures are
    computed once per batch.

    This is the batch kernel of streaming dedup-at-ingestion: wrap it in
    ``foreachBatch`` and the store becomes the cross-trigger state,
    unbounded by watermark (unlike ``dropDuplicatesWithinWatermark``,
    which forgets keys past the horizon).
    """
    nb = minhash_band_buckets(new_docs, text_col, id_col, num_hashes, bands, shingle_n)
    return incremental_bucket_candidates(nb, store, id_col, max_bucket_size)


def incremental_bucket_candidates(
    new_buckets: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Hash-agnostic core of :func:`incremental_lsh_candidates`: candidate
    pairs for a NEW batch's (id, band, bucket) rows against the persistent
    store. Split out so the portable-md5 banding tier
    (:func:`minhash_band_buckets_md5` — oracle-checkable) and the xxhash64
    production tier share one combinator."""
    combined = new_buckets.union(store.select(id_col, "band", "bucket"))
    # bucket caps must count ALL members (store + batch) or the capped set
    # would diverge from the full-corpus run's
    sizes = combined.groupBy("band", "bucket").agg(F.count("*").alias("_bsz"))
    ok = sizes.filter(F.col("_bsz") <= max_bucket_size)
    a = new_buckets.join(ok, ["band", "bucket"]).drop("_bsz").alias("a")
    b = combined.join(ok, ["band", "bucket"]).drop("_bsz").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
            F.col("a.band").alias("band"),
        )
        .distinct()  # a within-batch pair collides from both sides
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_bands"))
    )
    return pairs, new_buckets


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-set Jaccard pairs via PREFIX-FILTERED inverted-index join
    (the AllPairs/PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008).

    A naive gram self-join blows up on high-frequency grams: a gram present
    in all N docs alone contributes N² join rows. Prefix filtering keeps the
    join EXACT while indexing only each doc's rarest
    ``sz - ceil(t·sz) + 1`` grams (global-document-frequency order): two
    sets with Jaccard ≥ t must share at least one prefix gram, so every
    qualifying pair still collides, and ubiquitous grams — which sit at the
    END of the frequency order — never enter the index. Candidates are then
    verified with one array_intersect per pair (exact, per-row O(|doc|)).

    ``shingle_n`` controls the gram unit: word 3-shingles by default (the
    near-dup measure of the dedup ladder; shingle vocabularies are large and
    flat, which is exactly what prefix filtering needs), ``shingle_n=1`` for
    plain token sets (degenerates on tiny vocabularies — a corpus whose docs
    all draw from a few dozen words makes token-set Jaccard quadratic in
    TRUE output, which no candidate strategy can bound).

    Shuffle profile: gram-frequency window (one exchange on gram), per-doc
    rank window, prefix self-join (rare grams only), verify join on the pair
    ids. Still the verification tier at 100 TB (run post-LSH); prefix
    filtering is what makes the full-corpus form survive medium scale.

    Build-time actions (kept; SCALE.md, "Spark actions at build time"):
    calling this runs a count() that populates the persisted gram/prefix
    caches before the joins are planned, so actual InMemoryRelation sizes
    — not Catalyst's under-threshold estimates for lazy HOF frames —
    drive the broadcast-vs-SMJ choice (the r11 sf1 sweep measured
    corpus-sized broadcasts OOM the 1g heap without it), and then pins
    the verified pairs with :func:`materialize` so the two caches can be
    released. This is the one pair operator of the family that is not
    lazy.
    """
    from pyspark.sql import Window

    grams = (
        F.array_distinct(F.col("_toks"))
        if shingle_n == 1
        else F.array_distinct(shingles_from_tokens(F.col("_toks"), shingle_n))
    )
    # the shingle explosion is an interpreted higher-order expression and
    # feeds the prefix index AND both verify sides — keep the per-doc gram
    # ARRAYS (with their size) and persist that frame once: the doc's gram
    # count rides the array (no count window over the exploded rows), and
    # the verify tier re-joins these arrays instead of rebuilding the sets
    # with a collect_set groupBy (one whole shuffle of the exploded corpus
    # gone)
    arr = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), grams.alias("_g"))
        .withColumn("sz", F.size("_g"))
        .persist()
    )
    toks = arr.select(F.col(id_col), F.col("sz"), F.explode("_g").alias("tok"))
    # global document frequency as a count window over the gram — one
    # exchange on tok, where a groupBy+join-back costs an agg exchange plus
    # a probe-side exchange for the identical value
    wdf = Window.partitionBy("tok")
    w = Window.partitionBy(id_col).orderBy("_df", "tok")
    ranked = (
        toks.withColumn("_df", F.count(F.lit(1)).over(wdf))
        .withColumn("pos", F.row_number().over(w))
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).persist()
    # materialize the two cached frames BEFORE planning the joins below:
    # Catalyst's sizeInBytes estimate for lazy HOF-derived frames lands
    # under the broadcast threshold regardless of corpus size, so the
    # prefix self-join and both verify joins built CORPUS-SIZED broadcast
    # hash relations — fine at sf0.1, measured fatal at sf1 (50k docs,
    # locally generated fixture: "Not enough memory to build and
    # broadcast" on the 1g default heap), guaranteed fatal at 100 TB. A
    # populated InMemoryRelation reports its ACTUAL cached size, so the
    # planner keeps the fast broadcast at small scale and switches to
    # sort-merge exactly when the frames outgrow the threshold — the
    # count only reorders work materialize() forced anyway (prefix pulls
    # arr through its cache, populating both).
    prefix.count()
    a = prefix.alias("a")
    b = prefix.alias("b")
    # size-compatibility pushed into the join: jaccard ≤ min(sz)/max(sz)
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # per-doc gram sets come straight from the persisted array frame — the
    # shingle expression never re-evaluates and no groupBy rebuilds the sets
    sa = arr.select(F.col(id_col).alias("id_a"), F.col("_g").alias("_ta"))
    sb = arr.select(F.col(id_col).alias("id_b"), F.col("_g").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(inter * 1.0 / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return materialize(verified, arr, prefix)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
) -> DataFrame:
    """63-bit SimHash fingerprint per doc (sign bit unused → positive long).

    For each bit position, sum +1/-1 over shingle hashes by that bit; the
    sign of the sum is the fingerprint bit. Same explode-once shape as
    minhash: one shuffle of 63 small ints per doc, map-side combined.
    """
    hashed = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("sh"),
        )
        .select(F.col(id_col), F.xxhash64("sh").alias("h"))
    )
    # SQL-text aggregates: one JVM parse instead of ~10 py4j round trips
    # per bit (r13, see simhash_signatures_md5)
    agg = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h & CAST({1 << i} AS BIGINT)) != 0 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"b{i}")
            for i in range(63)
        ]
    )
    fp_sql = "CAST(0 AS BIGINT) + " + " + ".join(
        f"CAST(b{i} > 0 AS BIGINT) * CAST({1 << i} AS BIGINT)"
        for i in range(63)
    )
    return agg.select(F.col(id_col), F.expr(fp_sql).alias("simhash"))


def _portable_hash64_sql(col_sql: str, seed: int) -> str:
    """Engine-portable 60-bit hash as SQL text: first 15 hex chars of
    md5(tok + '#' + seed).

    xxhash64 is Spark-only; md5 exists in every engine (DuckDB:
    CAST('0x'||substr(md5(x),1,15) AS BIGINT) is bit-identical), which
    makes minhash/simhash signatures ORACLE-CHECKABLE. ~3× slower than
    xxhash64 — the xxhash64 signatures above are the production tier,
    the md5 ones the verification tier. SQL text parses JVM-side in one
    py4j round trip (r13: the signature builders below construct 8-32 of
    these per call; Column builders' py4j round trips were the dominant
    per-query construction cost at sf0.1)."""
    return (
        f"CAST(conv(substring(md5(concat({col_sql}, '#{seed}')), 1, 15), "
        "16, 10) AS BIGINT)"
    )


def minhash_signatures_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 1,
) -> DataFrame:
    """Token/shingle-set minhash with portable hashes (verification twin of
    minhash_signatures; both gram units stay SQL-expressible — DuckDB builds
    the same shingles via list_transform)."""
    if shingle_n == 1:
        toks = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col), F.explode(distinct_tokens(F.col(text_col))).alias("tok")
        )
    else:
        toks = (
            fan_out(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
            .select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(
                        shingles_from_tokens(F.col("_toks"), shingle_n)
                    )
                ).alias("tok"),
            )
        )
    # each min(portable-hash) agg is built as SQL text: one JVM parse per
    # hash instead of ~10 py4j round trips each (plan-construction cost,
    # not execution — see _portable_hash64_sql)
    return toks.groupBy(id_col).agg(
        *[
            F.expr(f"min({_portable_hash64_sql('tok', j)})").alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_band_buckets_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) banding rows from PORTABLE md5 minhashes — the
    oracle-checkable twin of :func:`minhash_band_buckets` (DuckDB derives
    bit-identical buckets from the same md5 kernel). Bucket = portable hash
    of the band's signature slice serialized as ':'-joined decimal longs
    with the band id as the seed suffix."""
    if num_hashes % bands:
        # same contract as the xxhash64 tier: a remainder would silently
        # drop the trailing hashes from every bucket
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures_md5(df, text_col, id_col, num_hashes, shingle_n)
    # posexplode over the per-band bucket array: pos IS the band id (same
    # rows as the r6-r12 struct-array explode), and the whole banding
    # expression parses JVM-side in one round trip (r13 — the Column form
    # cost ~15 py4j round trips per band at query-construction time)
    bucket_sqls = [
        "CAST(conv(substring(md5(concat_ws(':', "
        + ", ".join(
            [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
            + [f"'{b}'"]
        )
        + ")), 1, 15), 16, 10) AS BIGINT)"
        for b in range(bands)
    ]
    return sig.select(
        id_col,
        F.expr(f"posexplode(array({', '.join(bucket_sqls)}))").alias(
            "band", "bucket"
        ),
    )


def minhash_lsh_candidates_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Full-corpus LSH candidate pairs from the PORTABLE md5 banding tier —
    same plan shape as :func:`minhash_lsh_candidates` (banding → capped
    bucket self-join → per-pair band count), same md5 kernel as the
    incremental tier, so the whole pipeline is oracle-checkable in DuckDB.
    Returns (id_a, id_b, n_bands)."""
    banded = minhash_band_buckets_md5(
        df, text_col, id_col, num_hashes, bands, shingle_n
    )
    raw = capped_bucket_pairs(banded, id_col, max_bucket_size)
    return raw.groupBy("id_a", "id_b").agg(F.count("*").alias("n_bands"))


def simhash_signatures_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    shingle_n: int = 1,
) -> DataFrame:
    """Token/shingle-set simhash with portable hashes (verification twin of
    simhash_signatures). ``shingle_n > 1`` fingerprints the n-gram shingle
    set instead of the token set — on a corpus whose docs all draw from a
    tiny vocabulary (the synthetic documents use ~31 words), token sets are
    nearly identical across docs and the near-pair output degenerates to
    ~all-pairs; shingle sets stay diverse."""
    grams = (
        F.array_distinct(F.col("_toks"))
        if shingle_n == 1
        else F.array_distinct(shingles_from_tokens(F.col("_toks"), shingle_n))
    )
    hashed = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.explode(grams).alias("tok"))
        .select(F.col(id_col), F.expr(_portable_hash64_sql("tok", 0)).alias("hv"))
    )
    # the per-bit sums and the fingerprint reassembly are built as SQL
    # text (exact integer arithmetic; r13 — the Column form issued ~10
    # py4j round trips per bit at construction time, ~0.4 s of the
    # query's sf0.1 wall for bits=32)
    agg = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(hv, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp_sql = "CAST(0 AS BIGINT) + " + " + ".join(
        f"CAST(b{i} > 0 AS BIGINT) * CAST({1 << i} AS BIGINT)"
        for i in range(bits)
    )
    return agg.select(F.col(id_col), F.expr(fp_sql).alias("simhash"))


def _star_components(
    edges: DataFrame,
    max_iters: int,
) -> tuple[DataFrame, int]:
    """Distributed two-phase star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond": alternating LARGE-STAR /
    SMALL-STAR edge rewrites) — converges in O(log² n) rounds regardless
    of graph DIAMETER, where min-label propagation needs O(diameter)
    rounds and dies on path-shaped components.

    large-star: every node hooks its strictly-larger neighbors to the
    minimum of its closed neighborhood. small-star: every node hooks its
    smaller-or-equal neighbors (and itself) to that minimum. Both rewrites
    only ever LOWER an edge's small endpoint, so the edge set converges
    monotonically to disjoint stars centered on each component's minimum
    id. Returns ``(star_edges, leftover)`` where star_edges is
    (node, cluster) for every non-root node and leftover is the change
    count at loop exit (0 = converged). The star_edges frame holds a
    checkpoint pin — :func:`connected_components` releases it via
    ``materialize``.

    Each round is two groupBy-min + join passes over the edge list (same
    shuffle key both phases); convergence is an exact set comparison
    (two anti-joins) on the pair-sized edge frame; lineage is truncated by
    an eager localCheckpoint EVERY round (see the in-loop comment).
    """
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .persist()
    )
    leftover = 0
    for it in range(max_iters):
        # ---- large-star: emit (v, min(N(u) ∪ {u})) for each v > u ----
        sym = cur.select("u", "v").union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        closed_min = F.least(F.col("_mn"), F.col("u"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"), closed_min.alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: hook u and its ≤-neighbors to the closed min ----
        smins = large.groupBy("u").agg(F.min("v").alias("_mn"))
        nxt = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("_mn").alias("v"))
            .union(smins.select("u", F.col("_mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # checkpoint EVERY round, not on an interval: one star round
        # references ``cur`` ~12× (symmetrize ×2, neighborhood-min join,
        # small-star join + union), so the un-truncated logical plan grows
        # ~12^rounds — the analyzer OOMs the driver by round 4 on a
        # 63-EDGE graph. persist() caches data but not the plan; eager
        # localCheckpoint replaces the plan with the materialized RDD, and
        # the frame is pair-sized, so the per-round cost is negligible.
        nxt = nxt.localCheckpoint(eager=True)
        # exact convergence: the edge SET is unchanged (both-ways anti-join
        # on the deduplicated pair-sized frames)
        leftover = (
            nxt.join(cur, ["u", "v"], "left_anti")
            .union(cur.join(nxt, ["u", "v"], "left_anti"))
            .count()
        )
        cur.unpersist()
        cur = nxt
        if leftover == 0:
            break
    return (
        cur.select(F.col("u").alias("node"), F.col("v").alias("cluster")),
        leftover,
        cur,
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    checkpoint_interval: int = 5,
    strict: bool = True,
    small_graph_threshold: int = 100_000,
    method: str = "propagation",
) -> DataFrame:
    """Dedup cluster assignment: connected components over an undirected
    near-dup pair list via MIN-LABEL PROPAGATION — each round every node
    takes the smallest label among itself and its neighbors; fixpoint in
    O(graph diameter) rounds (near-dup clusters are dense, so diameter is
    tiny). Returns (node, cluster) with cluster = min reachable id — the
    canonical-document rule (keep min id, drop the rest).

    Build-time actions (kept; SCALE.md, "Spark actions at build time"):
    the tier probe below always runs, and the distributed tiers run
    their rounds at call time — each round's convergence count decides
    whether another round is planned, and lineage truncation needs the
    checkpoints — then pin the labels with :func:`materialize`. The
    small-graph tier returns a driver-built frame and pins nothing.

    Scale posture: each round is one join + one groupBy on the edge list
    (both shuffles on node id); the driver only checks a convergence COUNT
    per round, never collects labels. Every ``checkpoint_interval`` rounds
    the label frame is localCheckpoint-ed, truncating the otherwise
    per-round-growing lineage — the classic iterative-Spark failure mode
    (plan analysis goes quadratic, then the driver OOMs on the plan).

    If the loop exits with ``changed > 0`` the labels are NOT a fixpoint
    (some component's diameter exceeds max_iters): ``strict=True`` (default)
    raises; ``strict=False`` warns and returns the partial labels.

    ``method="star"`` switches the distributed tier to two-phase star
    contraction (:func:`_star_components`): O(log² n) rounds independent of
    diameter — the variant for path/chain-shaped components whose diameter
    exceeds any reasonable ``max_iters`` (near-dup graphs are dense and
    tiny-diameter, so propagation stays the default). Same output contract:
    (node, cluster = min reachable id), identical on any graph.
    """
    if method not in ("propagation", "star"):
        raise ValueError(f"unknown method {method!r}: propagation|star")
    # NULL ids carry no adjacency (a null never equals anything, matching
    # SQL join semantics) and would crash the driver union-find's sorted();
    # drop them up front so both tiers see the same edge set. Persisted
    # BEFORE the tier probe: when the graph overflows the threshold, the
    # distributed tier below reuses the partitions the probe already
    # computed instead of re-executing the whole upstream pair plan.
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull()).persist()
    # Small-graph fast tier: the pair list is orders of magnitude smaller
    # than the corpus by construction (banded + capped candidates), and a
    # graph under the threshold is MODEL-sized — labels come from one
    # driver-side union-find instead of O(diameter) join rounds (each round
    # is 3 scheduled stages; on a small graph the rounds are pure
    # overhead). The tier probe is a LIMIT threshold+1 collect: when the
    # graph is small the probe's rows ARE the whole edge list, so tier
    # choice and data arrive in ONE job (a separate count would schedule a
    # second full pass); when it overflows, the ≤threshold+1 shipped rows
    # are the bounded probe cost and the distributed propagation below —
    # the only shape that scales — takes over, reusing the partitions the
    # probe already cached.
    probe = edges.limit(small_graph_threshold + 1).collect()
    if len(probe) <= small_graph_threshold:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in probe:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the final label is min reachable id,
                # identical to the propagation fixpoint
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        import pandas as pd

        spark = pairs.sparkSession
        out = pd.DataFrame(
            sorted((n, find(n)) for n in parent), columns=["node", "cluster"]
        )
        edges.unpersist()
        # Arrow-path createDataFrame; an empty frame still needs the schema
        return spark.createDataFrame(out, "node long, cluster long")
    if method == "star":
        star_edges, leftover, pinned = _star_components(edges, max_iters)
        if leftover > 0:
            msg = (
                f"star contraction did not converge in {max_iters} rounds "
                f"({leftover} edges still changing) — raise max_iters "
                "(rounds needed ~ log² of the largest component)"
            )
            if strict:
                pinned.unpersist()
                edges.unpersist()
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        # stars carry only non-root nodes; roots and self-loop-only nodes
        # label themselves
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        result = nodes.join(star_edges, "node", "left").select(
            "node", F.coalesce("cluster", F.col("node")).alias("cluster")
        )
        return materialize(result, edges, pinned)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    changed = 0
    cached = labels
    for it in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the previous label through the update so the convergence
        # count is a filter over this round's (already materialized) frame —
        # not a second node-keyed join+shuffle per iteration
        merged = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("label").alias("_old"),
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        if (it + 1) % checkpoint_interval == 0:
            # truncate lineage: the checkpointed RDD replaces the whole
            # join-tower plan built since the last checkpoint
            merged = merged.localCheckpoint(eager=True)
        else:
            merged = merged.persist()
        changed = merged.filter(F.col("label") != F.col("_old")).count()
        cached.unpersist()
        cached = merged
        labels = merged.select("node", "label")
        if changed == 0:
            break
    sym.unpersist()
    edges.unpersist()
    if changed > 0:
        msg = (
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing): some component's diameter "
            "exceeds max_iters; raise max_iters (rounds needed ~ graph "
            "diameter) or switch to method='star' (star contraction, "
            "O(log² n) rounds regardless of diameter)"
        )
        if strict:
            cached.unpersist()
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    result = labels.select(F.col("node"), F.col("label").alias("cluster"))
    return materialize(result, cached)


def survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    strict: bool = True,
    method: str = "propagation",
) -> DataFrame:
    """The corpus AFTER near-dedup: every document except non-canonical
    near-dup cluster members (keep-min-id policy — the cluster label IS the
    survivor, reference keep='first' drop_duplicates semantics at
    src/processing/etl_pipeline.py:141-149 lifted to near-dup clusters).

    Composition of :func:`connected_components` over the pair list with one
    anti-join back to the corpus: nodes whose label differs from their own
    id are dropped; cluster representatives and never-matched documents pass
    through. Scale posture: the loser list is pair-sized (tiny next to the
    corpus) and the anti-join shuffles on the id key once.
    """
    labels = connected_components(
        pairs,
        id_a=id_a,
        id_b=id_b,
        max_iters=max_iters,
        strict=strict,
        method=method,
    )
    losers = labels.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
