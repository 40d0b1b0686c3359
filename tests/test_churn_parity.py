"""Reference-parity fixture (SURVEY §5.2): the 33-column churn schema
through clean → six feature blocks → z-score normalize, asserting the
invariants the reference's quality checker enforces (V3-V9) and the gold
shape FIXTURES.md §2 declares."""

from __future__ import annotations

from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.functions.churn_features import (
    churn_feature_pipeline,
)
from skiliopay_datapipeline_customer_spark.functions.fixtures import (
    synthesize_users_raw,
    synthesize_users_raw_dirty,
)
from skiliopay_datapipeline_customer_spark.ml.scaler import fit_standard_scaler
from skiliopay_datapipeline_customer_spark.plans import quality as Q

N = 1500


def test_clean_fixture_passes_reference_gates(spark):
    users = synthesize_users_raw(spark, n=N)
    assert users.count() == N and len(users.columns) == 33
    report = Q.run_quality_checks(
        users,
        key_columns=["user_id"],
        completeness_columns=users.columns,
        validity_rules={
            "age_range": (F.col("age") < 13) | (F.col("age") > 100),
            "label_domain": ~F.col("churn_label").isin(0, 1),
            "gmv_negative": F.col("gmv_2024") < 0,
            "rate_domain": (F.col("refund_rate_2024") < 0)
            | (F.col("refund_rate_2024") > 1),
        },
        consistency_invariants={
            "sessions_30_gt_90": F.col("sessions_30d") > F.col("sessions_90d"),
            "orders_30_gt_90": F.col("orders_30d") > F.col("orders_90d"),
            "gmv_aov_mismatch": F.abs(
                F.col("gmv_2024") - F.col("aov_2024") * F.col("orders_2024")
            )
            > 0.01,
        },
        outlier_columns=["gmv_2024", "sessions_90d"],
    )
    assert report.passed, report.scores
    assert all(v == 0 for v in report.details["validity"]["violations"].values())
    assert all(v == 0 for v in report.details["consistency"]["violations"].values())
    # distribution gate (V9): churn rate in the balanced band, no country >80%
    dist = Q.distribution(users, "churn_label", "country")
    assert dist["label_balanced"] and not dist["dominated"]


def test_dirty_fixture_trips_every_check(spark):
    users = synthesize_users_raw_dirty(spark, n=N)
    report = Q.run_quality_checks(
        users,
        key_columns=["user_id"],
        completeness_columns=["age", "country"],
        validity_rules={
            "age_range": (F.col("age") < 13) | (F.col("age") > 100),
            "gmv_negative": F.col("gmv_2024") < 0,
            "rate_domain": F.col("refund_rate_2024") > 1,
        },
        consistency_invariants={
            "sessions_30_gt_90": F.col("sessions_30d") > F.col("sessions_90d")
        },
        outlier_columns=[],
    )
    v = report.details["validity"]["violations"]
    assert v["age_range"] > 0 and v["gmv_negative"] > 0 and v["rate_domain"] > 0
    assert report.details["consistency"]["violations"]["sessions_30_gt_90"] > 0
    assert report.details["uniqueness"]["key_uniqueness"]["user_id"] < 1.0
    assert report.scores["validity"] < 1.0


def test_feature_pipeline_shape_and_invariants(spark):
    users = synthesize_users_raw(spark, n=N)
    pre = churn_feature_pipeline(users, encode=False).cache()
    gold = churn_feature_pipeline(users).cache()
    # FIXTURES §2 shape: all engineered columns present (rfm_segment is
    # itself one-hot-encoded away in the final frame, like the reference)
    for col in [
        "rfm_score",
        "session_intensity_30d",
        "engagement_ratio",
        "email_engagement_score",
        "order_frequency_2024",
        "value_per_session",
        "quality_score",
        "risk_score",
        "clv_proxy",
        "purchase_consistency",
        "diversity_score",
        "is_weekend_reg",
        "is_month_end",
        "is_latest_version",
        "is_mobile_heavy",
        "is_high_value",
        "is_at_risk",
        "reg_recency_category_encoded",
        "last_order_category_encoded",
        "rfm_category_encoded",
    ]:
        assert col in gold.columns, col
    # one-hot expansion: named dummies per enum value; originals dropped
    assert "country_Vietnam" in gold.columns and "country" not in gold.columns
    assert "marketing_source_organic" in gold.columns
    # wide-out: 33 raw → >100 processed like the reference's 181
    assert len(gold.columns) > 100
    rows = gold.count()
    assert rows == N
    assert any(c.startswith("rfm_segment_") for c in gold.columns)
    # rfm_segment: three quintile digits, each 1..5
    bad_seg = pre.filter(~F.col("rfm_segment").rlike("^[1-5][1-5][1-5]$"))
    assert bad_seg.count() == 0
    # quintiles are balanced: each digit value covers ~N/5 rows (±1)
    digit_counts = (
        pre.groupBy(F.substring("rfm_segment", 1, 1).alias("d")).count().collect()
    )
    assert len(digit_counts) == 5
    assert all(abs(r["count"] - N / 5) <= 1 for r in digit_counts)
    # flags from the 0.8-quantile: is_high_value marks >= ~20% (union of 2 flags)
    hv = gold.filter("is_high_value").count()
    assert 0.15 * N < hv < 0.45 * N
    pre.unpersist()
    gold.unpersist()  # session-scoped spark — don't leak storage into later tests


def test_zscore_normalize_excludes_reference_columns(spark):
    """F14: normalize numeric features EXCLUDING churn_label and raw rfm_*
    (etl_pipeline.py:234-249)."""
    users = synthesize_users_raw(spark, n=N)
    gold = churn_feature_pipeline(users, encode=False)
    excluded = {"churn_label", "rfm_recency", "rfm_frequency", "rfm_monetary"}
    numeric = [
        c
        for c, t in gold.dtypes
        if t in ("int", "bigint", "double") and c not in excluded
    ]
    _, transform = fit_standard_scaler(gold, numeric)
    scaled = transform(gold)
    row = scaled.agg(
        F.round(F.avg("clv_proxy"), 9).alias("m"),
        F.round(F.stddev_samp("clv_proxy"), 6).alias("s"),
        F.sum("churn_label").alias("labels"),
    ).first()
    assert row["m"] == 0.0 and abs(row["s"] - 1.0) < 1e-6
    # excluded columns untouched (labels still {0,1} sum, not centered)
    assert row["labels"] > 0


def test_churn_features_gold_builds_with_only_the_rfm_sample_jobs(
    spark, sf_dir, group_jobs
):
    """The gold query selects no encoded column, so its build runs no job
    beyond the RFM quintiles' boundary sample: with the encoder in place,
    its distinct-sets job ran over the whole lineage while the frame was
    being built."""
    from skiliopay_datapipeline_customer_spark.functions.churn_features import (
        rfm_features,
    )
    from skiliopay_datapipeline_customer_spark.queries import all_queries

    _, rfm_jobs, _ = group_jobs(
        lambda: rfm_features(synthesize_users_raw(spark, n=1000))
    )
    _, gold_jobs, _ = group_jobs(
        lambda: all_queries()["churn_features_gold"](spark, sf_dir)
    )
    assert rfm_jobs
    assert len(gold_jobs) == len(rfm_jobs)
