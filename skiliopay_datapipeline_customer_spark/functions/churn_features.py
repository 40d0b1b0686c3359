"""The reference's six feature-engineering blocks on the 33-column churn
schema (FIXTURES.md §1), re-expressed as native Column transforms.

Reference parity (src/processing/feature_engineering.py:27-51 sequencing):
RFM → behavioral → temporal → interaction → domain → categorical encoding.
Every formula below cites its reference line; all of it is whole-stage-
codegen expressions — the only driver-side values are the two quantile(0.8)
scalars and the distinct category lists (model-sized).

Semantics notes (SURVEY §7.4 hard parts):
- quantile buckets replicate rank(method='first') + qcut via ntile over a
  total order (value + user_id tiebreak); pandas breaks ties by row position,
  which has no distributed meaning — the explicit key is the deterministic
  equivalent.
- pd.cut is right-closed: when-chains use `<=` bounds; rfm_score bins
  [0,25,50,75,100] have NO +inf edge, so score>100 or ≤0 → null, exactly as
  pandas produces NaN there (feature_engineering.py:71-75).
- .replace(0,1) zero-guards divide-by-zero with ONE, not null
  (feature_engineering.py:109 etc.) — preserved verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDINAL_CATS = ["reg_recency_category", "last_order_category", "rfm_category"]
NOMINAL_CATS = ["country", "city", "marketing_source", "app_version_major", "rfm_segment"]


def _guard0(col):
    """`.replace(0, 1)` denominator guard (feature_engineering.py:109)."""
    return F.when(col == 0, F.lit(1)).otherwise(col)


def _qcut_edges(n: int, q: int):
    """pandas' qcut edges over the integer ranks 1..n — the q-1 inner
    right-closed boundaries Series(1..n).quantile(linspace(0,1,q+1))
    interpolates. Scalar math on the driver; bit-identical to the reference
    because it IS pandas computing them (feature_engineering.py:89-98)."""
    import numpy as np
    import pandas as pd

    edges = (
        pd.Series(np.arange(1, n + 1, dtype="float64"))
        .quantile(np.linspace(0, 1, q + 1))
        .to_numpy()
    )
    return edges[1:-1]


def quantile_bucket(
    df: DataFrame,
    col: str,
    labels: list[int],
    ascending: bool,
    q: int = 5,
    tiebreak: str = "user_id",
    out: str | None = None,
) -> DataFrame:
    """rank(method='first') + qcut over a total order
    (feature_engineering.py:89-98), with the reference's degenerate-
    cardinality guard: < 2 distinct values → constant fill label.

    NOT plain ntile: when n % q != 0, ntile fills big tiles first while
    pd.qcut cuts the integer ranks at float-interpolated quantile edges
    (whose IEEE rounding can shift a boundary rank DOWN a bucket — e.g.
    n=4, q=3 puts rank 2 in bucket 2, ntile puts it in bucket 1; caught by
    tests/test_properties.py). Exact replication: compute the q+1 edges
    with pandas itself on the driver (scalar math over 1..n — no data
    moves), then bucket each rank against the q-1 inner edges.

    The rank comes from the range-partitioned two-pass form
    (operators/ranks.py) — no single-task global window anywhere, so this
    is the 100 TB-safe PRIMARY form. `quantile_bucket_parity` keeps the
    original one-window shape for cross-checking in tests.
    """
    from ..operators.ranks import global_rank_distributed

    out = out or f"{col}_q"
    stats = df.agg(
        F.countDistinct(col).alias("u"), F.count(F.lit(1)).alias("n")
    ).first()
    effective_q = min(q, stats["u"])
    if effective_q < 2:
        fill = labels[0] if ascending else labels[-1]
        return df.withColumn(out, F.lit(fill))
    inner = _qcut_edges(stats["n"], effective_q)
    order = [
        (F.col(col), "asc" if ascending else "desc"),
        (F.col(tiebreak), "asc"),
    ]
    ranked = global_rank_distributed(df, order, rank_col="_qb_rank")
    bucket = F.lit(1)
    for e in inner:
        bucket = bucket + (F.col("_qb_rank") > F.lit(float(e))).cast("int")
    label_arr = F.array(*[F.lit(x) for x in labels[:effective_q]])
    return ranked.withColumn(out, F.element_at(label_arr, bucket)).drop("_qb_rank")


def quantile_bucket_parity(
    df: DataFrame,
    col: str,
    labels: list[int],
    ascending: bool,
    q: int = 5,
    tiebreak: str = "user_id",
    out: str | None = None,
) -> DataFrame:
    """Single-window parity form of :func:`quantile_bucket` — row_number over
    one global-order window, the literal transcription of the reference's
    full-frame rank. Funnels the table through ONE task, so it is tests-only:
    the property suite cross-checks the distributed primary against it (and
    against pandas itself)."""
    out = out or f"{col}_q"
    stats = df.agg(
        F.countDistinct(col).alias("u"), F.count(F.lit(1)).alias("n")
    ).first()
    effective_q = min(q, stats["u"])
    if effective_q < 2:
        fill = labels[0] if ascending else labels[-1]
        return df.withColumn(out, F.lit(fill))
    inner = _qcut_edges(stats["n"], effective_q)
    order = F.col(col).asc() if ascending else F.col(col).desc()
    w = Window.orderBy(order, F.col(tiebreak))
    r = F.row_number().over(w)
    bucket = F.lit(1)
    for e in inner:
        bucket = bucket + (r > F.lit(float(e))).cast("int")
    label_arr = F.array(*[F.lit(x) for x in labels[:effective_q]])
    return df.withColumn(out, F.element_at(label_arr, bucket))


def rfm_features(df: DataFrame) -> DataFrame:
    """feature_engineering.py:54-98: quintile segment digits, weighted raw
    score, right-closed category bins (score outside (0,100] → null).

    The three quintiles come from ONE `quantile_buckets_distributed` call:
    one boundary sample action at construction, and every side branch
    (stats, per-bucket counts) reads this input frame, never another
    column's ranked output."""
    from ..operators.ranks import quantile_buckets_distributed

    df = quantile_buckets_distributed(
        df,
        [
            ("rfm_recency", [5, 4, 3, 2, 1], False, "_r"),
            ("rfm_frequency", [1, 2, 3, 4, 5], True, "_f"),
            ("rfm_monetary", [1, 2, 3, 4, 5], True, "_m"),
        ],
    )
    score = (
        F.col("rfm_recency") * 0.4
        + F.col("rfm_frequency") * 0.3
        + F.col("rfm_monetary") * 0.3
    )
    return (
        df.withColumn(
            "rfm_segment",
            F.concat(
                F.col("_r").cast("string"),
                F.col("_f").cast("string"),
                F.col("_m").cast("string"),
            ),
        )
        .withColumn("rfm_score", score)
        .withColumn(
            "rfm_category",
            F.when(score <= 0, F.lit(None).cast("string"))
            .when(score <= 25, "Low")
            .when(score <= 50, "Medium")
            .when(score <= 75, "High")
            .when(score <= 100, "Very High")
            .otherwise(F.lit(None).cast("string")),
        )
        .drop("_r", "_f", "_m")
    )


def behavioral_features(df: DataFrame) -> DataFrame:
    """feature_engineering.py:100-134 (pages_per_session_30d is a PRODUCT in
    the reference despite its name — preserved)."""
    return (
        df.withColumn("session_intensity_30d", F.col("sessions_30d") / 30)
        .withColumn("session_intensity_90d", F.col("sessions_90d") / 90)
        .withColumn(
            "engagement_ratio", F.col("sessions_30d") / _guard0(F.col("sessions_90d"))
        )
        .withColumn(
            "search_activity_ratio",
            F.col("search_queries_30d") / _guard0(F.col("sessions_30d")),
        )
        .withColumn(
            "pages_per_session_30d",
            F.col("median_pages_viewed_30d") * F.col("sessions_30d"),
        )
        .withColumn(
            "email_engagement_score",
            F.col("emails_open_rate_90d") * 0.6 + F.col("emails_click_rate_90d") * 0.4,
        )
        .withColumn(
            "support_intensity",
            F.col("support_tickets_2024") / _guard0(F.col("orders_2024")),
        )
    )


def temporal_features(df: DataFrame) -> DataFrame:
    """feature_engineering.py:137-162: right-closed pd.cut bins; modulo
    weekend/month-end flags."""
    reg = F.col("reg_days")
    dslo = F.col("days_since_last_order")
    return (
        df.withColumn(
            "reg_recency_category",
            F.when(reg <= 0, F.lit(None).cast("string"))
            .when(reg <= 30, "New")
            .when(reg <= 90, "Recent")
            .when(reg <= 365, "Established")
            .when(reg <= 1000, "Long-term")
            .otherwise("Veteran"),
        )
        .withColumn(
            "last_order_category",
            F.when(dslo <= 0, F.lit(None).cast("string"))
            .when(dslo <= 7, "Very Recent")
            .when(dslo <= 30, "Recent")
            .when(dslo <= 90, "Moderate")
            .when(dslo <= 180, "Old")
            .otherwise("Very Old"),
        )
        .withColumn("order_frequency_2024", F.col("orders_2024") / 365)
        .withColumn("is_weekend_reg", (reg % 7).isin(5, 6))
        .withColumn("is_month_end", (reg % 30) >= 25)
    )


def interaction_features(df: DataFrame) -> DataFrame:
    """feature_engineering.py:165-198."""
    return (
        df.withColumn(
            "value_per_session", F.col("gmv_2024") / _guard0(F.col("sessions_90d"))
        )
        .withColumn(
            "order_efficiency", F.col("orders_90d") / _guard0(F.col("sessions_90d"))
        )
        .withColumn(
            "discount_sensitivity",
            F.col("discount_rate_2024") * F.col("orders_2024"),
        )
        .withColumn(
            "quality_score", F.col("avg_csat_2024") * F.col("avg_review_stars_2024")
        )
        .withColumn(
            "risk_score", F.col("refund_rate_2024") * F.col("support_tickets_2024")
        )
        .withColumn("engagement_value", F.col("sessions_90d") * F.col("aov_2024"))
    )


def domain_features(df: DataFrame) -> DataFrame:
    """feature_engineering.py:201-238: CLV proxy, consistency, diversity,
    version/device/value/risk flags. quantile(0.8) thresholds are exact
    percentiles computed once and folded into the flag expressions (A10)."""
    # thresholds ride the plan as a broadcast 1-row cross join — the eager
    # .first() form cost an extra full pass over the feature lineage
    q = F.broadcast(
        df.agg(
            F.percentile("gmv_2024", F.lit(0.8)).alias("_gmv_q80"),
            F.percentile("aov_2024", F.lit(0.8)).alias("_aov_q80"),
        )
    )
    reg = F.col("reg_days")
    return (
        df.crossJoin(q)
        .withColumn("clv_proxy", F.col("gmv_2024") * (365 / _guard0(reg)))
        .withColumn(
            "purchase_consistency",
            F.col("orders_2024") / _guard0(reg / 30),
        )
        .withColumn(
            "diversity_score",
            F.col("category_diversity_2024") / _guard0(F.col("orders_2024")),
        )
        # pandas .str.contains is regex: '3.x' matches '3' + any char + 'x'
        .withColumn("is_latest_version", F.col("app_version_major").rlike("3.x"))
        .withColumn("is_mobile_heavy", F.col("device_mix_ratio") > 0.7)
        .withColumn(
            "is_high_value",
            (F.col("gmv_2024") > F.col("_gmv_q80"))
            | (F.col("aov_2024") > F.col("_aov_q80")),
        )
        .withColumn(
            "is_at_risk",
            (F.col("days_since_last_order") > 90)
            | (F.col("sessions_30d") == 0)
            | (F.col("refund_rate_2024") > 0.1),
        )
        .drop("_gmv_q80", "_aov_q80")
    )


def encode_categoricals(
    df: DataFrame,
    ordinal: list[str] | None = None,
    nominal: list[str] | None = None,
    sanitize_names: bool = True,
) -> DataFrame:
    """feature_engineering.py:240-262: LabelEncoder (sorted classes) for the
    ordinal triple, named one-hot columns `{col}_{value}` for nominals;
    originals dropped. Category lists are collected once (cardinality is
    config-bounded) so the expansion is pure select().

    sanitize_names (default on) maps non-identifier chars in dummy names to
    `_` ("app_version_major_3.x" → "app_version_major_3_x"): Spark ML's
    column resolution parses dots as struct access, so pandas-verbatim names
    break VectorAssembler downstream. Pass False for byte-identical pandas
    naming on pure-SQL surfaces."""
    import re
    ordinal = [c for c in (ordinal or ORDINAL_CATS) if c in df.columns]
    nominal = [c for c in (nominal or NOMINAL_CATS) if c in df.columns]
    if not ordinal and not nominal:
        return df
    # ONE pass collects every category list: per-column distinct().collect()
    # would re-execute the whole upstream lineage (incl. the quintile window
    # sorts) once per column — measured 9× the runtime at 50k rows.
    # slice caps what ships to the driver (same 10k enum bound as
    # encoding.discover_categories): a genuinely high-cardinality column
    # raises toward hashed_features instead of building a 10^6-column select.
    cap = 10_000
    sets_row = df.agg(
        *[
            F.slice(F.sort_array(F.collect_set(c)), 1, cap + 1).alias(c)
            for c in [*ordinal, *nominal]
        ]
    ).first()
    categories = {}
    for c in [*ordinal, *nominal]:
        vals = [v for v in sets_row[c] if v is not None]
        if len(vals) > cap:
            raise ValueError(
                f"encode_categoricals({c!r}): more than {cap} distinct "
                "values — not an enum column; use "
                "functions.encoding.hashed_features instead"
            )
        categories[c] = vals  # sort_array already ordered them
    for c in ordinal:
        mapping = F.array(*[F.lit(v) for v in categories[c]])
        df = df.withColumn(
            f"{c}_encoded",
            F.coalesce(F.array_position(mapping, F.col(c)) - 1, F.lit(-1)).cast("int"),
        ).drop(c)
    for c in nominal:
        values = categories[c]
        def name(v):
            raw = f"{c}_{v}"
            return re.sub(r"[^0-9a-zA-Z_]", "_", raw) if sanitize_names else raw

        dummies = [
            (F.col(c) == v).cast("int").alias(name(v)) for v in values
        ]
        # backtick-quote existing names: earlier dummy columns may contain
        # dots ("app_version_major_1.x"), which bare F.col reads as struct
        # field access
        keep = [F.col(f"`{x}`") for x in df.columns if x != c]
        df = df.select(*keep, *dummies)
    return df


def churn_feature_pipeline(df: DataFrame, encode: bool = True) -> DataFrame:
    """The full six-block sequence (feature_engineering.py:27-51)."""
    df = rfm_features(df)
    df = behavioral_features(df)
    df = temporal_features(df)
    df = interaction_features(df)
    df = domain_features(df)
    if encode:
        df = encode_categoricals(df)
    return df
