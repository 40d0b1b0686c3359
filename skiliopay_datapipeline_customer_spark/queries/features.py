"""Scalar/feature-engineering queries (SURVEY.md §2.8: F1-F19).

The reference's feature blocks (src/processing/feature_engineering.py:27-51)
re-expressed as native Column expressions — everything stays inside
whole-stage codegen; zero Python UDFs. Each query bundles a family of
scalar operators over the star schema.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import table
from . import query

# F1 arithmetic derived columns + F2 zero-guard division + F19 abs
# (feature_engineering.py:100-134; zero-guard `.replace(0,1)` at :109).


@query(
    "derived_ratios",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           l_extendedprice / (CASE WHEN l_quantity = 0 THEN 1 ELSE l_quantity END)
             AS unit_price,
           abs(l_extendedprice - l_quantity * 1500.0) AS price_deviation,
           l_discount * 0.6 + l_tax * 0.4 AS fee_score
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    """,
)
def derived_ratios(spark, sf_dir):
    qty_guard = F.when(F.col("l_quantity") == 0, 1).otherwise(F.col("l_quantity"))
    return (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("charge"),
            (F.col("l_extendedprice") / qty_guard).alias("unit_price"),
            F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1500.0).alias(
                "price_deviation"
            ),
            (F.col("l_discount") * 0.6 + F.col("l_tax") * 0.4).alias("fee_score"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# F4 fixed-bin bucketing with labels — pandas pd.cut is right-closed
# (SURVEY §7.4), so the when-chain uses `<=` upper bounds; the oracle CASE
# mirrors it exactly. (rfm_category bins, feature_engineering.py:71-75.)


@query(
    "bucketize_labels",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice <= 1000 THEN 'Low'
                WHEN o_totalprice <= 2500 THEN 'Medium'
                WHEN o_totalprice <= 4000 THEN 'High'
                ELSE 'Very High' END AS price_category
    FROM orders
    ORDER BY o_orderkey
    """,
)
def bucketize_labels(spark, sf_dir):
    p = F.col("o_totalprice")
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.when(p <= 1000, "Low")
            .when(p <= 2500, "Medium")
            .when(p <= 4000, "High")
            .otherwise("Very High")
            .alias("price_category"),
        )
        .orderBy("o_orderkey")
    )


# F5 casts + F6 string concat + F18 date formatting
# (etl_pipeline.py:216-231; feature_engineering.py:85; csv_ingestion.py:31).


@query(
    "cast_concat_format",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS VARCHAR) || '-' || o_orderstatus AS order_tag,
           CAST(floor(o_totalprice) AS BIGINT) AS price_int,
           strftime(o_orderdate, '%Y%m%d') AS date_stamp,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month
    FROM orders
    ORDER BY o_orderkey
    """,
)
def cast_concat_format(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.concat(
                F.col("o_orderkey").cast("string"), F.lit("-"), F.col("o_orderstatus")
            ).alias("order_tag"),
            F.floor("o_totalprice").cast("bigint").alias("price_int"),
            F.date_format("o_orderdate", "yyyyMMdd").alias("date_stamp"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .orderBy("o_orderkey")
    )


# F7 substring/contains + F8 regex + F9 membership + F12 value mapping
# (feature_engineering.py:218-219; churn_schema.json regex; views/pages.py:55).


@query(
    "string_predicates",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END AS is_brass,
           CASE WHEN regexp_matches(p_brand, '^Brand#[0-9]+$') THEN 1 ELSE 0 END
             AS brand_valid,
           CASE WHEN p_size IN (5, 10, 15) THEN 1 ELSE 0 END AS size_special,
           CASE WHEN p_retailprice > 1500 THEN 'Premium' ELSE 'Standard' END AS tier
    FROM part
    ORDER BY p_partkey
    """,
)
def string_predicates(spark, sf_dir):
    return (
        table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.col("p_type").contains("BRASS").cast("int").alias("is_brass"),
            F.col("p_brand").rlike("^Brand#[0-9]+$").cast("int").alias("brand_valid"),
            F.col("p_size").isin(5, 10, 15).cast("int").alias("size_special"),
            F.when(F.col("p_retailprice") > 1500, "Premium")
            .otherwise("Standard")
            .alias("tier"),
        )
        .orderBy("p_partkey")
    )


# F10 modulo flags + F11 boolean flag exprs (feature_engineering.py:158-159,
# 222-235: weekend/month-end style flags from integer arithmetic).


@query(
    "modulo_flags",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod7,
           CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
           CASE WHEN o_totalprice > 3000 OR o_orderstatus = 'F' THEN 1 ELSE 0 END
             AS flag_combo
    FROM orders
    ORDER BY o_orderkey
    """,
)
def modulo_flags(spark, sf_dir):
    # DuckDB dayofweek: 0=Sunday..6=Saturday; Spark dayofweek: 1=Sunday..7.
    spark_dow = F.dayofweek("o_orderdate") - 1
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 7).cast("bigint").alias("key_mod7"),
            spark_dow.isin(0, 6).cast("int").alias("is_weekend"),
            ((F.col("o_totalprice") > 3000) | (F.col("o_orderstatus") == "F"))
            .cast("int")
            .alias("flag_combo"),
        )
        .orderBy("o_orderkey")
    )


# F3 clip/winsorize with IQR fences (etl_pipeline.py:200-211): bounds from an
# exact-percentile aggregate, broadcast-crossjoined back (one scan + tiny
# scalar join — no driver round trip).


@query(
    "iqr_clip",
    oracle="""
    WITH fences AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    )
    SELECT o_orderkey,
           round(greatest(least(o_totalprice, q3 + 1.5 * (q3 - q1)),
                          q1 - 1.5 * (q3 - q1)), 6) AS clipped_price
    FROM orders, fences
    ORDER BY o_orderkey
    """,
)
def iqr_clip(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    # one percentile buffer for both fences (r13, same rewrite as
    # median_quantiles — bit-identical values, half the agg state)
    fences = orders.agg(
        F.percentile(
            "o_totalprice", F.array(F.lit(0.25), F.lit(0.75))
        ).alias("_q")
    ).select(F.col("_q")[0].alias("q1"), F.col("_q")[1].alias("q3"))
    iqr = F.col("q3") - F.col("q1")
    return (
        orders.crossJoin(F.broadcast(fences))
        .select(
            "o_orderkey",
            F.round(
                F.greatest(
                    F.least(F.col("o_totalprice"), F.col("q3") + 1.5 * iqr),
                    F.col("q1") - 1.5 * iqr,
                ),
                6,
            ).alias("clipped_price"),
        )
        .orderBy("o_orderkey")
    )


# F14 z-score normalization (etl_pipeline.py:234-249): column-preserving
# (col - mean)/stddev via a single stats pass broadcast back over the table.


@query(
    "zscore_normalize",
    oracle="""
    WITH stats AS (
      SELECT avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sigma FROM customer
    )
    SELECT c_custkey, round((c_acctbal - mu) / sigma, 6) AS acctbal_z
    FROM customer, stats
    ORDER BY c_custkey
    """,
)
def zscore_normalize(spark, sf_dir):
    customer = table(spark, sf_dir, "customer")
    stats = customer.agg(
        F.avg("c_acctbal").alias("mu"), F.stddev_samp("c_acctbal").alias("sigma")
    )
    return (
        customer.crossJoin(F.broadcast(stats))
        .select(
            "c_custkey",
            F.round((F.col("c_acctbal") - F.col("mu")) / F.col("sigma"), 6).alias(
                "acctbal_z"
            ),
        )
        .orderBy("c_custkey")
    )


# F15 named one-hot encoding with stable column naming
# (pd.get_dummies, feature_engineering.py:257-260): each known category
# becomes its own 0/1 column with the reference's `<col>_<value>` naming.


@query(
    "one_hot_segments",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS mkt_AUTOMOBILE,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS mkt_BUILDING,
           CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS mkt_FURNITURE,
           CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS mkt_HOUSEHOLD,
           CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS mkt_MACHINERY
    FROM customer
    ORDER BY c_custkey
    """,
)
def one_hot_segments(spark, sf_dir):
    from ..functions.encoding import one_hot_columns

    cats = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", *one_hot_columns("c_mktsegment", cats, prefix="mkt"))
        .orderBy("c_custkey")
    )


# F16 ordinal label encoding (sklearn LabelEncoder sorted-class order,
# feature_engineering.py:246-256) with a declared category list.


@query(
    "label_encode_segments",
    oracle="""
    SELECT c_custkey,
           CASE c_mktsegment
             WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
             WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
             WHEN 'MACHINERY' THEN 4 ELSE NULL END AS mktsegment_encoded
    FROM customer
    ORDER BY c_custkey
    """,
)
def label_encode_segments(spark, sf_dir):
    from ..functions.encoding import label_encode

    cats = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    df = label_encode(
        table(spark, sf_dir, "customer"), "c_mktsegment", cats, out="mktsegment_encoded"
    )
    return df.select("c_custkey", "mktsegment_encoded").orderBy("c_custkey")


# F17 argmax across a one-hot block (reconstruct category,
# src/dashboard/data_loader.py:38-44): round-trip one-hot → argmax.


@query(
    "argmax_reconstruct",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'AUTOMOBILE'
                WHEN c_mktsegment = 'BUILDING' THEN 'BUILDING'
                WHEN c_mktsegment = 'FURNITURE' THEN 'FURNITURE'
                WHEN c_mktsegment = 'HOUSEHOLD' THEN 'HOUSEHOLD'
                ELSE 'MACHINERY' END AS segment_reconstructed
    FROM customer
    ORDER BY c_custkey
    """,
)
def argmax_reconstruct(spark, sf_dir):
    from ..functions.encoding import one_hot_columns

    cats = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    onehot = table(spark, sf_dir, "customer").select(
        "c_custkey", *one_hot_columns("c_mktsegment", cats, prefix="mkt")
    )
    # argmax over the block: first category whose indicator == 1
    chain = F.when(F.col(f"mkt_{cats[0]}") == 1, cats[0])
    for cat in cats[1:-1]:
        chain = chain.when(F.col(f"mkt_{cat}") == 1, cat)
    return onehot.select(
        "c_custkey", chain.otherwise(cats[-1]).alias("segment_reconstructed")
    ).orderBy("c_custkey")


# F13 null imputation with a computed statistic (median fillna,
# etl_pipeline.py:158-187) — here: impute a derived nullable column.


@query(
    "median_impute",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS price_n
      FROM orders
    ), med AS (
      SELECT quantile_cont(price_n, 0.5) AS m FROM src
    )
    SELECT o_orderkey, round(coalesce(price_n, m), 6) AS price_imputed
    FROM src, med
    ORDER BY o_orderkey
    """,
)
def median_impute(spark, sf_dir):
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_totalprice"))
        .alias("price_n"),
    )
    med = src.agg(F.percentile("price_n", F.lit(0.5)).alias("m"))
    return (
        src.crossJoin(F.broadcast(med))
        .select(
            "o_orderkey",
            F.round(F.coalesce("price_n", "m"), 6).alias("price_imputed"),
        )
        .orderBy("o_orderkey")
    )


# The reference's full six-block feature pipeline on the synthesized
# 33-column churn fixture (FIXTURES.md §1). Oracle-checked since r11: the
# xxhash64 fixture synthesis turned out to be SQL-replayable — Spark's
# XXH64.hashLong/hashInt over fixed-width fields is exact mod-2^64
# arithmetic DuckDB reproduces bit-for-bit with UBIGINT/HUGEINT limb math
# (functions/fixtures_oracle.py; 100k-id parity pinned in
# tests/test_oracle_parity.py). The seven output columns are then plain
# row arithmetic + two exact 0.8-quantiles; the unused pipeline blocks
# (quintile buckets, encodings) are column-pruned by Catalyst and never
# affect these values. The fixture is n=1000 regardless of sf_dir, so
# engine and oracle are both SF-invariant. Pandas-parity invariants stay
# in tests/test_churn_parity.py.


def _gold_oracle() -> str:
    from ..functions.fixtures_oracle import churn_features_gold_oracle

    return churn_features_gold_oracle(n=1000, seed=42)


@query("churn_features_gold", oracle=_gold_oracle())
def churn_features_gold(spark, sf_dir):
    from ..functions.churn_features import churn_feature_pipeline
    from ..functions.fixtures import synthesize_users_raw

    users = synthesize_users_raw(spark, n=1000)
    # encode=False: no encoded column is selected below, and the encoder's
    # distinct-sets job would run over the whole lineage at build time
    gold = churn_feature_pipeline(users, encode=False)
    return gold.select(
        "user_id",
        "rfm_score",
        "engagement_ratio",
        "clv_proxy",
        F.col("is_at_risk").cast("int").alias("is_at_risk"),
        F.col("is_high_value").cast("int").alias("is_high_value"),
        "churn_label",
    ).orderBy("user_id")


# Leave-one-out target encoding (the high-cardinality alternative to F15
# one-hot): category mean computed WITHOUT the row's own label — integer
# target keeps the distributed sum exact, so the float division is
# order-independent and engine-portable.


@query(
    "loo_target_encoding",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             CAST(c_acctbal > 5000 AS INT) AS y
      FROM customer
    ),
    stats AS (
      SELECT c_mktsegment, CAST(sum(y) AS DOUBLE) AS s, count(*) AS n
      FROM base GROUP BY c_mktsegment
    )
    SELECT b.c_custkey, b.c_mktsegment,
           CASE WHEN stats.n > 1
                THEN round((stats.s - b.y) / (stats.n - 1), 6) END AS te
    FROM base b JOIN stats USING (c_mktsegment)
    ORDER BY b.c_custkey
    """,
)
def loo_target_encoding(spark, sf_dir):
    from ..functions.encoding import target_encode_loo

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") > 5000).cast("int").alias("y"),
    )
    return (
        target_encode_loo(cust, "c_mktsegment", "y", out="_te")
        .select(
            "c_custkey", "c_mktsegment", F.round("_te", 6).alias("te")
        )
        .orderBy("c_custkey")
    )


# Hashing-trick encoder: fixed-width signed bucket counts from md5 —
# no vocabulary pass, engine-portable layout.

_FH_COLS = ["c_mktsegment", "c_nationkey"]
_FH_BUCKETS = 8


def _fh_oracle() -> str:
    def bucket(c):
        return (
            f"CAST('0x' || substr(md5('fh:{c}:' || CAST({c} AS VARCHAR)), 1, 8) "
            f"AS BIGINT) % {_FH_BUCKETS}"
        )

    def sign(c):
        return (
            f"CASE WHEN CAST('0x' || substr(md5('fh:{c}:' || CAST({c} AS VARCHAR)), 9, 2) "
            "AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
        )

    outs = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN {bucket(c)} = {b} THEN {sign(c)} ELSE 0 END)"
            for c in _FH_COLS
        )
        + f" AS BIGINT) AS fh_{b}"
        for b in range(_FH_BUCKETS)
    )
    return f"SELECT c_custkey, {outs} FROM customer ORDER BY c_custkey"


@query("hashed_segment_features", oracle=_fh_oracle())
def hashed_segment_features(spark, sf_dir):
    from ..functions.encoding import hashed_features

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    return (
        hashed_features(cust, _FH_COLS, num_buckets=_FH_BUCKETS)
        .drop("c_mktsegment", "c_nationkey")
        .orderBy("c_custkey")
    )
