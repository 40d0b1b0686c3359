"""Dedup queries over the documents table (LLM-pipeline operator family)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import table
from ..operators import dedup as D
from . import query

# Exact dedup by content hash (scale path: one shuffle on md5(text)).


@query(
    "exact_dedup_docs",
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents
    GROUP BY md5(text)
    ORDER BY doc_id
    """,
)
def exact_dedup_docs(spark, sf_dir):
    return D.exact_dedup(table(spark, sf_dir, "documents")).orderBy("doc_id")


# Exact 3-gram-shingle Jaccard near-dup pairs via prefix-filtered
# inverted-index join (PPJoin-style). Shingle sets, not token sets: the
# synthetic corpus draws from a ~31-word vocabulary, so token-set Jaccard is
# quadratic in TRUE output there (most doc pairs share most words); shingle
# vocabularies are large and flat, which both matches the dedup-ladder
# measure and makes prefix filtering effective.


@query(
    "ngram_jaccard_dups",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, len(t) - 2),
               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
      )
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s)) * 1.0 /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 1.0 /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_dups(spark, sf_dir):
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.9, shingle_n=3
    ).orderBy("id_a", "id_b")


# MinHash+LSH candidate pairs. The declared query runs the PORTABLE md5
# banding tier (r07 oracle upgrade: same banding → capped bucket self-join →
# per-pair band count plan as the xxhash64 tier, but every hash is
# reproducible in DuckDB, so the full candidate derivation is hash-checked).
# The xxhash64 production tier (operators/dedup.py::minhash_lsh_candidates,
# one string hash + fixed-width long mixes instead of k md5s) keeps its
# pytest coverage and stays the recommended 100 TB entry point; the two
# tiers share capped_bucket_pairs, so the oracle exercises the shared
# self-join combinator end to end.

_LSH_HASHES, _LSH_MH_BANDS = 8, 4


def _md5_banding_ctes(num_hashes: int, bands: int) -> str:
    """Shared oracle prefix: 3-gram shingles → md5 minhash signatures →
    (doc_id, band, bucket) rows → bucket-size cap table (`ok`). Mirrors
    operators/dedup.py::minhash_band_buckets_md5 + the capped_bucket_pairs
    size window, term for term."""
    rows = num_hashes // bands
    mins = ",\n             ".join(
        f"min(CAST('0x' || substr(md5(sh || '#{j}'), 1, 15) AS BIGINT)) AS mh_{j}"
        for j in range(num_hashes)
    )
    band_sel = []
    for b in range(bands):
        cols = " || ':' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_sel.append(
            f"SELECT doc_id, {b} AS band, CAST('0x' || substr(md5({cols} "
            f"|| ':{b}'), 1, 15) AS BIGINT) AS bucket FROM sig"
        )
    bands_sql = "\n      UNION ALL ".join(band_sel)
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, len(t) - 2),
               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents)
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ),
    bb AS (
      {bands_sql}
    ),
    sizes AS (SELECT band, bucket, count(*) AS c FROM bb GROUP BY band, bucket),
    ok AS (SELECT band, bucket FROM sizes WHERE c <= 1000)"""


# r12: the declared query moved BACK to the xxhash64 PRODUCTION tier —
# with a full oracle this time. The r7 md5 tier existed because string
# xxhash64 looked SQL-irreproducible; the short-string tail cascade
# (fixtures_oracle.xxhash64_ascii_short_sql — 3-gram shingles max 26
# bytes, probed sf0.001–sf1) replays F.xxhash64(sh), and the k seed
# mixes xxhash64(_h0, lit(j)) plus the per-band bucket hashes over the
# signature longs are the same fixed-width hashLong/hashInt chains the
# churn fixture oracle already replays. So the 100 TB entry point (one
# string hash + JVM long mixes per shingle instead of k md5 concats) now
# sits under the full hash gate itself; the md5 tier stays as the
# incremental-store kernel (incremental_dedup_candidates) and the
# calibration view's signature source.


def _minhash_xxh_oracle(num_hashes: int, bands: int) -> str:
    from ..functions.fixtures_oracle import (
        XxhSqlGen,
        xxhash64_ascii_short_sql,
    )

    rpb = num_hashes // bands
    # hash the DISTINCT shingle vocabulary once (engine hashes per
    # occurrence, but min() over duplicates == min() over distinct)
    sctes, sfinal, scol = xxhash64_ascii_short_sql(
        "SELECT DISTINCT g FROM shd", "g", prefix="x"
    )
    g = XxhSqlGen(
        f"SELECT g, CASE WHEN {scol} IS NULL THEN error("
        "'xxhash64 oracle guard: shingle >=32 bytes or non-ASCII') "
        f"ELSE {scol} END AS h0 FROM {sfinal}",
        prefix="m",
    )
    pre = g.hash_long(g.unsigned("h0"), "42")
    mh = {j: g.signed(g.hash_int(str(j), pre)) for j in range(num_hashes)}
    mins = ",\n             ".join(
        f"min(v.{mh[j]}) AS mh_{j}" for j in range(num_hashes)
    )
    # per-band bucket = xxhash64 over the band's signature longs (seed 42,
    # chained hashLong over each long's raw 64-bit pattern)
    gb = XxhSqlGen("SELECT * FROM sig", prefix="b")
    band_cols = []
    for b in range(bands):
        h = "42"
        for r in range(rpb):
            h = gb.hash_long(gb.unsigned(f"mh_{b * rpb + r}"), h)
        band_cols.append(gb.signed(h))
    bands_sql = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {band_cols[b]} AS bucket FROM {gb.final}"
        for b in range(bands)
    )
    return f"""
    WITH shd AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(
                 range(0, len(t) - 2),
                 i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS g
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents)
      )
    ),
    {sctes},
    {g.cte_list},
    sig AS (
      SELECT d.doc_id,
             {mins}
      FROM shd d JOIN {g.final} v USING (g)
      GROUP BY d.doc_id
    ),
    {gb.cte_list},
    bb AS (
      {bands_sql}
    ),
    sizes AS (SELECT band, bucket, count(*) AS c FROM bb GROUP BY band, bucket),
    ok AS (SELECT band, bucket FROM sizes WHERE c <= 1000),
    cb AS (SELECT bb.* FROM bb JOIN ok USING (band, bucket)),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.band
      FROM cb a JOIN cb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_bands
    FROM p GROUP BY id_a, id_b ORDER BY id_a, id_b
    """


@query(
    "minhash_lsh_candidates",
    oracle=_minhash_xxh_oracle(_LSH_HASHES, _LSH_MH_BANDS),
)
def minhash_lsh_candidates(spark, sf_dir):
    return D.minhash_lsh_candidates(
        table(spark, sf_dir, "documents"),
        num_hashes=_LSH_HASHES,
        bands=_LSH_MH_BANDS,
    ).orderBy("id_a", "id_b")


# Estimator calibration for the minhash tier (new r8): for every LSH
# candidate pair, the MinHash Jaccard ESTIMATE (matching hashes / k) next
# to the EXACT 3-gram-shingle Jaccard and the absolute error — the number
# that tells an operator whether k hashes are enough for their dedup
# threshold before they commit a 100 TB run to it. Computation stays
# candidate-bounded: signatures and shingle sets join onto the (small,
# capped) pair list, never all-pairs. No rounding anywhere: est is an exact
# multiple of 1/k, exact Jaccard divides two integers — IEEE-identical in
# both engines.


def _minhash_jaccard_oracle() -> str:
    eq = " + ".join(
        f"CAST(sa.mh_{j} = sb.mh_{j} AS INT)" for j in range(_LSH_HASHES)
    )
    return (
        _md5_banding_ctes(_LSH_HASHES, _LSH_MH_BANDS)
        + f""",
    cb AS (SELECT bb.* FROM bb JOIN ok USING (band, bucket)),
    nb AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_bands
      FROM cb a JOIN cb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM sh GROUP BY doc_id)
    SELECT id_a, id_b, n_bands, est_jaccard, exact_jaccard,
           abs(est_jaccard - exact_jaccard) AS abs_err
    FROM (
      SELECT nb.id_a, nb.id_b, nb.n_bands,
             ({eq}) / {float(_LSH_HASHES)} AS est_jaccard,
             CAST(len(list_intersect(xa.s, xb.s)) AS DOUBLE)
               / len(list_distinct(list_concat(xa.s, xb.s))) AS exact_jaccard
      FROM nb
      JOIN sig sa ON sa.doc_id = nb.id_a
      JOIN sig sb ON sb.doc_id = nb.id_b
      JOIN sets xa ON xa.doc_id = nb.id_a
      JOIN sets xb ON xb.doc_id = nb.id_b
    )
    ORDER BY id_a, id_b
    """
    )


@query("minhash_jaccard_estimates", oracle=_minhash_jaccard_oracle())
def minhash_jaccard_estimates(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    cand = D.minhash_lsh_candidates_md5(
        docs, num_hashes=_LSH_HASHES, bands=_LSH_MH_BANDS
    )
    sig = D.minhash_signatures_md5(
        docs, num_hashes=_LSH_HASHES, shingle_n=3
    )
    sets = docs.select(
        "doc_id", D.tokens(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        F.array_distinct(D.shingles_from_tokens(F.col("_toks"), 3)).alias("s"),
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(_LSH_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(_LSH_HASHES)],
    )
    xa = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    xb = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    matches = sum(
        (F.col(f"a_{j}") == F.col(f"b_{j}")).cast("int")
        for j in range(_LSH_HASHES)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_bands",
            (matches / F.lit(float(_LSH_HASHES))).alias("est_jaccard"),
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb"))
            ).alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))
        )
        .orderBy("id_a", "id_b")
    )


# Shingle novelty (new r8): per-doc share of 3-gram shingles that appear in
# NO other document — the memorization/boilerplate inverse signal a corpus
# builder reads next to the dup-pair list (low novelty = template mass even
# when no pair clears the dup threshold). Document frequency comes from one
# count-window over the exploded distinct-shingle frame (the ngram_jaccard
# house pattern: one exchange on the shingle, no vocab join-back), then one
# doc_id aggregation. Ratio is row-level integer division — unrounded.


@query(
    "ngram_novelty_scores",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, len(t) - 2),
               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))) AS g
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
            FROM documents)
    ),
    freq AS (SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM sh),
    per AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_shingles
      FROM freq GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.novel_shingles, 0) AS BIGINT) AS novel_shingles,
           CAST(p.novel_shingles AS DOUBLE) / p.n_shingles AS novelty
    FROM documents d LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def ngram_novelty_scores(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", D.tokens(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(D.shingles_from_tokens(F.col("_toks"), 3))
        ).alias("g"),
    )
    freq = sh.withColumn("df", F.count("*").over(Window.partitionBy("g")))
    per = freq.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum((F.col("df") == 1).cast("int")).cast("long").alias("novel_shingles"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias("n_shingles"),
            F.coalesce("novel_shingles", F.lit(0).cast("long")).alias(
                "novel_shingles"
            ),
            (F.col("novel_shingles").cast("double") / F.col("n_shingles")).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# SimHash 64-bit fingerprints over the PRODUCTION xxhash64 hash — full
# oracle check since r12. The r7 note called xxhash64-over-strings
# SQL-irreproducible because of XXH64's 32-byte stripe loop; but inputs
# under 32 bytes never enter that loop — they take the fixed tail cascade
# (≤3 word rounds + optional 4-byte round + ≤3 byte rounds + fmix), which
# fixtures_oracle.xxhash64_ascii_short_sql replays with the same mod-2^64
# limb arithmetic that already replays the fixed-width churn hashes. The
# 2-gram shingle vocabulary maxes at 17 bytes across sf0.001–sf1 (probed),
# and any ≥32-byte/non-ASCII shingle raises error() in the oracle instead
# of hashing wrong — loud, never silent.


def _simhash_xxh_oracle() -> str:
    from ..functions.fixtures_oracle import xxhash64_ascii_short_sql

    ctes, final, col = xxhash64_ascii_short_sql(
        "SELECT doc_id, g FROM sh", "g"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS g
      FROM toks
    ),
    {ctes},
    h AS (
      SELECT doc_id,
             CASE WHEN {col} IS NULL
                  THEN error('xxhash64 oracle guard: shingle >=32 bytes or non-ASCII')
                  ELSE {col} END AS hv
      FROM {final}
    ),
    bit_sums AS (
      SELECT doc_id, r.range AS i,
             sum(CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN range(63) r
      GROUP BY doc_id, r.range
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0
                    THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bit_sums GROUP BY doc_id
    ORDER BY doc_id
    """


@query("simhash_fingerprints", oracle=_simhash_xxh_oracle())
def simhash_fingerprints(spark, sf_dir):
    return D.simhash_signatures(table(spark, sf_dir, "documents")).orderBy("doc_id")


# Portable-hash verification twins: md5-derived hashes exist in DuckDB too,
# so minhash/simhash signatures get FULL oracle checks (the xxhash64
# simhash above stays rows-only as the faster production tier; the minhash
# candidates query switched to the md5 tier outright in r7).


@query(
    "minhash_md5_signatures",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           min(CAST('0x' || substr(md5(tok || '#0'), 1, 15) AS BIGINT)) AS mh_0,
           min(CAST('0x' || substr(md5(tok || '#1'), 1, 15) AS BIGINT)) AS mh_1,
           min(CAST('0x' || substr(md5(tok || '#2'), 1, 15) AS BIGINT)) AS mh_2,
           min(CAST('0x' || substr(md5(tok || '#3'), 1, 15) AS BIGINT)) AS mh_3,
           min(CAST('0x' || substr(md5(tok || '#4'), 1, 15) AS BIGINT)) AS mh_4,
           min(CAST('0x' || substr(md5(tok || '#5'), 1, 15) AS BIGINT)) AS mh_5,
           min(CAST('0x' || substr(md5(tok || '#6'), 1, 15) AS BIGINT)) AS mh_6,
           min(CAST('0x' || substr(md5(tok || '#7'), 1, 15) AS BIGINT)) AS mh_7
    FROM toks GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def minhash_md5_signatures(spark, sf_dir):
    return D.minhash_signatures_md5(table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


@query(
    "simhash_md5_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok || '#0'), 1, 15) AS BIGINT) AS hv
      FROM toks
    ),
    bit_sums AS (
      SELECT doc_id, r.range AS i,
             sum(CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN range(32) r
      GROUP BY doc_id, r.range
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0
                    THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bit_sums GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def simhash_md5_fingerprints(spark, sf_dir):
    return D.simhash_signatures_md5(table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


# SimHash near-dup PAIRS: fingerprints banded into 4 x 8-bit chunks
# (pigeonhole: hamming ≤ 3 on 32 bits → at least one identical chunk),
# candidates verified by exact hamming distance via bit_count(xor). The
# chunk join is the scale path: no all-pairs scan, one shuffle on
# (chunk_idx, chunk_value). Fingerprints hash the 2-gram SHINGLE set, not
# the token set: the synthetic docs draw from a ~31-word vocabulary, so
# token-set fingerprints are near-identical corpus-wide and the "near-dup"
# output degenerates to ~all-pairs (2.5M rows at sf0.1); shingle sets keep
# fingerprints diverse, which is also the measure the dedup ladder uses.


@query(
    "simhash_near_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(0, len(t) - 1),
               i -> t[i + 1] || ' ' || t[i + 2]))) AS tok
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
      )
    ),
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok || '#0'), 1, 15) AS BIGINT) AS hv
      FROM toks
    ),
    bit_sums AS (
      SELECT doc_id, r.range AS i,
             sum(CASE WHEN (hv >> CAST(r.range AS INT)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN range(32) r
      GROUP BY doc_id, r.range
    ),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0
                      THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END)
               AS simhash
      FROM bit_sums GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, simhash, r.range AS c,
             (simhash >> (CAST(r.range AS INT) * 8)) & 255 AS chunk_val
      FROM fp CROSS JOIN range(4) r
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    ORDER BY id_a, id_b
    """,
)
def simhash_near_pairs(spark, sf_dir):
    # the fingerprint aggregation feeds BOTH sides of the chunk self-join;
    # both sides reuse its exchange, so the md5+32-sum pipeline runs once
    fp = D.simhash_signatures_md5(
        table(spark, sf_dir, "documents"), shingle_n=2
    )
    # posexplode: pos IS the chunk index (same rows as the struct-array
    # explode this replaces), parsed JVM-side in one round trip (r13)
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.expr(
            "posexplode(array("
            + ", ".join(f"shiftright(simhash, {c * 8}) & 255" for c in range(4))
            + "))"
        ).alias("c", "chunk_val"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.filter(hamming <= 3)
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


# Dedup cluster assignment: connected components over the shingle-Jaccard
# near-dup pairs (min-label propagation; cluster = min reachable doc_id —
# the canonical-document rule). The oracle computes the same transitive
# closure with a recursive CTE over the identical edge set, so chains
# (A~B, B~C without A~C) are genuinely exercised.


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, len(t) - 2),
               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
      )
    ),
    e0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0 /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM e0
      UNION SELECT id_b, id_a FROM e0
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT node, min(r) AS cluster
    FROM reach GROUP BY node
    ORDER BY node
    """,
)
def dedup_clusters(spark, sf_dir):
    pairs = D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.9, shingle_n=3
    )
    return D.connected_components(pairs).orderBy("node")


# Ingestion-time dedup: the new half of the corpus deduped against a
# signature store built from the historical half — no historical text is
# re-shingled. The declared query runs the PORTABLE md5 banding tier so the
# whole store+batch candidate derivation is oracle-checked in DuckDB (same
# md5 kernel, same 3-gram shingles, same bucket caps); the xxhash64
# production tier shares the identical combinator
# (operators/dedup.py::incremental_bucket_candidates) and keeps its
# full-vs-incremental pair-set equivalence proof in
# tests/test_corpus.py::test_incremental_lsh_matches_full_corpus_run.

_INCR_HASHES, _INCR_BANDS = 8, 4


def _incremental_dedup_oracle() -> str:
    return (
        _md5_banding_ctes(_INCR_HASHES, _INCR_BANDS)
        + """,
    newb AS (SELECT bb.* FROM bb JOIN ok USING (band, bucket)
             WHERE doc_id % 2 = 1),
    allb AS (SELECT bb.* FROM bb JOIN ok USING (band, bucket)),
    p AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b, a.band
      FROM newb a JOIN allb b USING (band, bucket)
      WHERE a.doc_id <> b.doc_id
    )
    SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_bands
    FROM p GROUP BY id_a, id_b ORDER BY id_a, id_b
    """
    )


@query("incremental_dedup_candidates", oracle=_incremental_dedup_oracle())
def incremental_dedup_candidates(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    store = D.minhash_band_buckets_md5(
        old, num_hashes=_INCR_HASHES, bands=_INCR_BANDS
    )
    nb = D.minhash_band_buckets_md5(
        new, num_hashes=_INCR_HASHES, bands=_INCR_BANDS
    )
    pairs, _additions = D.incremental_bucket_candidates(nb, store)
    return pairs.orderBy("id_a", "id_b")


# Cluster-size histogram — the dedup evaluation view (how much mass sits in
# dup clusters of each size; singletons = unique docs). Reuses the bounded
# connected-components labels; the oracle extends the recursive-CTE closure
# with docs that never enter an edge (cluster of one).


@query(
    "dup_cluster_size_histogram",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, len(t) - 2),
               i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
      FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
      )
    ),
    e0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0 /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM e0
      UNION SELECT id_b, id_a FROM e0
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    labels AS (
      SELECT node, min(r) AS cluster FROM reach GROUP BY node
      UNION ALL
      SELECT doc_id, doc_id FROM documents
      WHERE doc_id NOT IN (SELECT node FROM reach)
    ),
    sizes AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
      FROM labels GROUP BY cluster
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dup_cluster_size_histogram(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.9, shingle_n=3)
    labels = D.connected_components(pairs)
    # docs with no near-dup edge are their own singleton cluster
    all_labels = labels.unionByName(
        docs.join(labels, docs.doc_id == labels.node, "left_anti").select(
            F.col("doc_id").alias("node"), F.col("doc_id").alias("cluster")
        )
    )
    sizes = all_labels.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )
