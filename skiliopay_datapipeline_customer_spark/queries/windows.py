"""Window-function suite (SURVEY.md §2.5: W1-W4 + frame-spec extensions).

Every window has a DETERMINISTIC total order (value + key tiebreak) — the
reference's rank(method='first') / qcut semantics (W1/W2) are only
reproducible under a total order (SURVEY §7.4). Scale posture: windows
partitioned by a key shuffle once on that key; the single global-order
windows (ntile over the whole table) are flagged as driver-bottleneck shapes
and exist because the reference's RFM quintiles are global — at 100 TB the
engine would switch to percent_rank over range-partitioned sort (Spark does
a range-partitioned global sort under the hood, so it scales).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import table
from . import query

# W1/W2 quantile bucketing (RFM quintiles, feature_engineering.py:89-98).
# PRIMARY = the two-pass range-partitioned rank + qcut edge formula
# (operators/ranks.py) — the form that survives 100 TB. Buckets follow the
# rank+qcut edges (right-closed at 1 + (n-1)·k/q), evaluated with identical
# IEEE scalar arithmetic in the oracle. The single-task ntile transcription
# survives as `rfm_quintiles_parity` (tests-only; identical when n % 5 == 0,
# which holds for every customer fixture).
# Oracle boundary: the fixed 0.2/0.4/0.6/0.8 rank edges assume the scored
# column has ≥ q distinct values; under qcut semantics fewer distinct
# values dedup the edges (pandas-parity property tests cover that tier),
# where this SQL transcription would still spread ranks across q buckets.
# c_acctbal is continuous — the assumption holds at every SF.


@query(
    "rfm_quintiles",
    oracle="""
    WITH n AS (SELECT count(*) AS n FROM customer),
    ranked AS (
      SELECT c_custkey,
             row_number() OVER (ORDER BY c_acctbal, c_custkey) AS r
      FROM customer
    )
    SELECT c_custkey,
           1 + (CASE WHEN r > 1 + (n - 1) * 0.2 THEN 1 ELSE 0 END)
             + (CASE WHEN r > 1 + (n - 1) * 0.4 THEN 1 ELSE 0 END)
             + (CASE WHEN r > 1 + (n - 1) * 0.6 THEN 1 ELSE 0 END)
             + (CASE WHEN r > 1 + (n - 1) * 0.8 THEN 1 ELSE 0 END) AS bal_quintile
    FROM ranked, n
    ORDER BY c_custkey
    """,
)
def rfm_quintiles(spark, sf_dir):
    from ..operators.ranks import quantile_bucket_distributed

    bucketed = quantile_bucket_distributed(
        table(spark, sf_dir, "customer"),
        "c_acctbal",
        [1, 2, 3, 4, 5],
        ascending=True,
        q=5,
        tiebreak="c_custkey",
        out="bal_quintile",
    )
    return bucketed.select("c_custkey", "bal_quintile").orderBy("c_custkey")


def rfm_quintiles_parity(spark, sf_dir):
    """Single-window ntile form (tests-only): one task sees every row."""
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", F.ntile(5).over(w).alias("bal_quintile"))
        .orderBy("c_custkey")
    )


# W3 top-N per group (ROW_NUMBER pattern, docs/PERFORMANCE_OPTIMIZATION.md:228-237):
# top 3 orders per customer. Partitioned window → one shuffle on o_custkey.


@query(
    "topn_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def topn_per_customer(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("totalprice"),
            "rn",
        )
        .orderBy("o_custkey", "rn")
    )


# W4 share-of-total (value_counts(normalize=True), data_quality.py:326-342)
# per event user: each event type's share of the user's events.


@query(
    "share_within_group",
    oracle="""
    SELECT user_id, event_type, cnt,
           round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY user_id), 6) AS share
    FROM (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    )
    ORDER BY user_id, event_type
    """,
)
def share_within_group(spark, sf_dir):
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("user_id")
    return (
        counts.withColumn("share", F.round(F.col("cnt") * 1.0 / F.sum("cnt").over(w), 6))
        .orderBy("user_id", "event_type")
    )


# Frame-spec extensions (SURVEY §2.5 note: lag + rows-between required for the
# events table even though the reference pre-bakes its windows).
# lag: per-user time delta between consecutive events.


@query(
    "lag_time_delta",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)) AS micros_since_prev
    FROM events
    ORDER BY event_id
    """,
)
def lag_time_delta(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # integer-microsecond delta: exact on both engines, no float rounding
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            (F.unix_micros("ts") - F.unix_micros(prev_ts)).alias("micros_since_prev"),
        )
        .orderBy("event_id")
    )


# rows-between running aggregate: per-user running value total in event order.


@query(
    "running_total",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    ORDER BY event_id
    """,
)
def running_total(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 4).alias("running_value"),
        )
        .orderBy("event_id")
    )


# Time-interval RANGE frame: per-user trailing-7-day value sum. The frame is
# defined over integer epoch-micros (not row counts), so ties are peers in
# both engines and the boundary arithmetic is exact; round(4) absorbs
# frame-order float summation like the ROWS twin above.


@query(
    "trailing_week_user_value",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW),
           4) AS trailing_7d_value
    FROM events
    ORDER BY event_id
    """,
)
def trailing_week_user_value(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86_400_000_000, 0)
    )
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 4).alias("trailing_7d_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Full RFM score — the composite behind the dashboard's rfm_recency /
# rfm_frequency / rfm_monetary columns (pages.py:63-84): per customer,
# quintile scores for recency (lower = better → 5), frequency and monetary
# (higher = better → 5), concatenated "RFM" string. The three scores are
# range-bucketed quantiles over the per-customer aggregate (rank+qcut
# edges, identical IEEE edge formula in the oracle) from ONE
# quantile_buckets_distributed call: every bucket id comes from frozen
# boundary literals over the base frame, so no rank pass keys off another
# one's exchange (the hazard the KS fix documents in operators/ranks.py).
# ---------------------------------------------------------------------------

_RFM_EDGE = """1 + (CASE WHEN {r} > 1 + (n - 1) * 0.2 THEN 1 ELSE 0 END)
             + (CASE WHEN {r} > 1 + (n - 1) * 0.4 THEN 1 ELSE 0 END)
             + (CASE WHEN {r} > 1 + (n - 1) * 0.6 THEN 1 ELSE 0 END)
             + (CASE WHEN {r} > 1 + (n - 1) * 0.8 THEN 1 ELSE 0 END)"""


@query(
    "rfm_scores",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             datediff('day', max(o_orderdate), DATE '2001-08-02') AS recency,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ),
    n AS (SELECT count(*) AS n FROM base),
    ranked AS (
      SELECT c_custkey,
             row_number() OVER (ORDER BY recency, c_custkey) AS rr,
             row_number() OVER (ORDER BY frequency, c_custkey) AS rf,
             row_number() OVER (ORDER BY monetary, c_custkey) AS rm
      FROM base
    ),
    scores AS (
      SELECT c_custkey,
             6 - ({_RFM_EDGE.format(r='rr')}) AS r_score,
             {_RFM_EDGE.format(r='rf')} AS f_score,
             {_RFM_EDGE.format(r='rm')} AS m_score
      FROM ranked, n
    )
    SELECT c_custkey, r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm
    FROM scores ORDER BY c_custkey
    """,
)
def rfm_scores(spark, sf_dir):
    from ..operators.ranks import quantile_buckets_distributed

    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    base = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.datediff(
                F.lit("2001-08-02").cast("date"), F.max("o_orderdate")
            ).alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )

    scored = quantile_buckets_distributed(
        base,
        [
            ("recency", [5, 4, 3, 2, 1], True, "r_score"),
            ("frequency", [1, 2, 3, 4, 5], True, "f_score"),
            ("monetary", [1, 2, 3, 4, 5], True, "m_score"),
        ],
        q=5,
        tiebreak="c_custkey",
    )
    return scored.select(
        "c_custkey",
        "r_score",
        "f_score",
        "m_score",
        F.concat_ws("", F.col("r_score"), F.col("f_score"), F.col("m_score")).alias(
            "rfm"
        ),
    ).orderBy("c_custkey")
