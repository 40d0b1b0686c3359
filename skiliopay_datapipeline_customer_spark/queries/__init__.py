"""Declared-query registry — the t2 correctness surface.

Every implemented operator from SURVEY.md §2 registers here as a named query
(a ``(spark, sf_dir) -> DataFrame`` callable) together with the ANSI-SQL
oracle DuckDB runs over the same parquet tables. The driver compares
row-count + schema + order-insensitive value hash, with columns sorted by
name — so every computed column is aliased identically on both sides, and
float aggregates are rounded on both sides to absorb summation-order noise.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from . import (  # noqa: F401
        aggregates,
        analytics,
        corpus,
        dedup,
        features,
        ml,
        multimodal,
        olap,
        quality,
        relational,
        selection,
        similarity,
        temporal,
        text,
        tpch,
        validation,
        windows,
    )


# The driver's correctness gate samples the FIRST 50 registry entries each
# round. With ~186 declared queries a static order leaves the back half
# permanently unverified, so the registry self-rotates: the needs-a-row pool
# (never-verified queries plus _FORCE-stamped semantics-changed ones) comes
# first in _PRIORITY order (unlisted members by declaration order), then
# previously-green queries rotate back oldest-green-first. Each round's
# CORRECTNESS_r{N}.json feeds the next round's order, so every query cycles
# through the window. _FORCE maps query -> round stamp: a green row at or
# before that round verified OLD semantics and doesn't count.
_FORCE = {
    "lag_time_delta": 3,
    "embedding_int8_codes": 3,
    # new in round 4 — verify in their landing round
    "corpus_mixture_sample": 3,
    "dedup_survivors": 3,
    "session_purchase_attribution": 3,
    "trailing_week_user_value": 3,
    "snapshot_diff_events": 3,
    "drift_report": 3,
    "fk_integrity_report": 3,
    "doc_chunk_assignments": 3,
    "event_props_rollup": 3,
    "latest_event_per_user": 3,
    "bpe_pair_counts": 3,
    "bpe_merges": 4,  # r05: gained full unrolled-round oracle
    "semantic_dedup_survivors": 3,
    "bpe_encoded_docs": 4,  # r05: gained rank-order replace-chain oracle
    "click_attribution_window": 3,
    "shipping_priority": 3,
    "returned_item_losses": 3,
    "promo_revenue_share": 3,
    "discounted_brand_revenue": 3,
    "doc_chunk_texts": 3,
    "local_supplier_volume": 3,
    "nation_trade_volume": 3,
    "nation_market_share": 3,
    "product_type_profit": 3,
    "ship_delay_priority": 3,
    "top_revenue_supplier": 3,
    "part_supplier_counts": 3,
    "volume_part_suppliers": 3,
    "waiting_suppliers": 3,
    "embedding_dim_stats": 3,
    "event_props_variant_rollup": 3,
    "corpus_composition_report": 3,
    "dup_cluster_size_histogram": 3,
    "segment_balance_deciles": 3,
    "daily_purchases_gapfilled": 3,
    "mad_outlier_report": 3,
    "burst_first_events": 3,
    "signup_to_purchase_latency": 3,
    "user_journey_frequencies": 3,
    "source_entropy": 3,
    "value_histogram": 3,
    "ewm_user_value": 3,
    # round-4 late change: gained a literal-plane oracle + moved to 6 planes
    # (prior rows-only record verified the old 8-plane output)
    "lsh_ann_topk": 4,
    # r07 fix: gmv/aov moved to exact decimal accumulation (the double sum
    # broke the 4-dp rounding grid at sf0.1) — prior green row verified the
    # float-sum output
    "global_kpis": 6,
    # r07 scale-proofing: money sums moved to decimal accumulation (52-ulp
    # headroom at sf0.1, single digits at sf1 — same class as global_kpis)
    "pricing_summary": 6,
    # r07 scale-proofing: grand-total grouping set summed the whole orders
    # table on double (655 ulps headroom, ~40 at sf1)
    "grouping_sets_revenue": 6,
    # r08 scale-proofing: revenue sum moved to DECIMAL(12,2) accumulation
    # (839 ulps headroom at sf0.1, ~105 projected at sf1 — under 4x the
    # measured ~33-ulp cross-engine band); prior green rows verified the
    # double-sum output
    "flagship_revenue_by_nation": 7,
    # r08 fix: constant-x groups now yield NULL (regr_slope semantics), not
    # 0.0 — the prior contract diverged from the shared oracle on any corpus
    # with an all-same-date customer
    "order_trend_pandas": 7,
    # r09 scale-proofing: money sums moved to DECIMAL accumulation (the
    # next two at-risk double-sum sites past sf1 per SCALE.md — ~164 and
    # ~839 ulps of headroom at sf10/sf1 respectively); prior green rows
    # verified the double-sum output
    "small_quantity_revenue": 8,
    "forecast_revenue_change": 8,
    # r09 fix: pca_projected_embeddings now emits scalar pc_0..pc_7 (the
    # array column crashed the driver canonicalizer in r08)
    "pca_projected_embeddings": 8,
    # r10 oracle upgrades: kmeans_cluster_profile and ivf_ann_topk moved
    # from rows-only (Spark ML k-means|| / float Lloyd refinement) to the
    # exact-integer Lloyd tier with full-replay oracles — prior rows-only
    # greens verified the old float outputs
    "kmeans_cluster_profile": 9,
    "ivf_ann_topk": 9,
    # r10 session 2: ivf_pq_ann_topk joins them — unit-sphere integer
    # quantization, exact-Lloyd coarse + per-subspace PQ codebooks,
    # integer ADC cut, fold-kernel cosine re-rank (prior greens verified
    # the numpy-codebook rows-only output)
    "ivf_pq_ann_topk": 9,
    # r11 oracle upgrade: churn_features_gold moved rows-only → full
    # hash check (the xxhash64 fixture synthesis is now replayed in
    # DuckDB via exact mod-2^64 limb arithmetic — fixtures_oracle.py);
    # prior greens verified only rows>0
    "churn_features_gold": 10,
    # r11 plan changes, values unchanged but re-stamp on the new plans:
    # ngram verify joins now size-aware (materialized-cache stats), rank
    # offsets aggregate pre-shuffle, quantile stats inlined
    "ngram_jaccard_dups": 10,
    # r12 plan change, values unchanged: bigram_lm_doc_scores now derives
    # head counts + vocab from the model-sized c2 frame (one corpus
    # explode fewer, no per-occurrence w1 split) — re-stamp every query
    # that rides it
    "bigram_doc_logprob": 11,
    "ccnet_quality_buckets": 11,
    # r12 SEMANTICS change: the DSIR bucket hash moved md5 → production
    # xxhash64 (bucket values and therefore weights differ; oracles
    # regenerated via the tail cascade) — prior greens verified md5
    # buckets.
    "dsir_importance_weights": 11,
    # --- r13 plan changes, values unchanged (the r13 output freeze:
    # no oracle changed this round), re-stamp on the new plans ---
    # the whole distributed rank/cumsum/ntile/sampling family: the
    # boundary when-tree is now parsed from SQL text over pre-projected
    # key columns (ranks._bucket_pid_sql; same tree, bit-identical)
    "global_row_number": 12,
    "percent_rank_prices": 12,
    "rfm_quintiles": 12,
    "rfm_scores": 12,
    "ks_drift_report": 12,
    "weighted_median_price": 12,
    "weighted_median_by_flag": 12,
    "abc_customer_classes": 12,
    "revenue_gini": 12,
    "token_pack_assignments": 12,
    "length_bucketed_batches": 12,
    "quality_top_quartile": 12,
    "corpus_build_pipeline": 12,
    "training_shard_assignments": 12,
    "domain_capped_sample": 12,
    "source_epoch_plan": 12,
    "churn_training_dataset": 12,
    "dsir_deciles_distributed": 12,
    "ccnet_buckets_distributed": 12,
    # LSH expr banding as SQL text + occupancy-gated candidate dedup
    # before the verify tier (the gate keeps the sf0.1-class plain path;
    # output identical either way)
    "lsh_dup_pairs": 12,
    "lsh_dup_pairs_fast": 12,
    "lsh_dup_pairs_auto": 12,
    # md5/xxh signature builders as SQL text; simhash chunks and md5
    # band buckets via posexplode (pos IS the band/chunk id)
    "simhash_near_pairs": 12,
    "simhash_fingerprints": 12,
    "simhash_md5_fingerprints": 12,
    "minhash_md5_signatures": 12,
    "minhash_lsh_candidates": 12,
    "minhash_jaccard_estimates": 12,
    "incremental_dedup_candidates": 12,
    # ONE exact-percentile buffer via array percentages (same evaluator)
    "median_quantiles": 12,
    "iqr_clip": 12,
    # bloom probe UDF marked nondeterministic (one ArrowEvalPython, was 2)
    "bloom_decontaminated_corpus": 12,
    # capstone: lazy DSIR — single terminal materialize
    "curated_selection_pipeline": 12,
    # CMS estimate lookups parsed from SQL text (identical tree)
    "cms_heavy_hitter_tokens": 12,
}

_PRIORITY = [
    # --- r12 optimization-session plan changes (cast hoist / explicit
    # dim on the LSH tiers; see the _FORCE block) — re-stamp first ---
    "lsh_dup_pairs",
    "lsh_dup_pairs_fast",
    "bloom_decontaminated_corpus",
    # --- r12 window: the CMS plan rewrite, the simhash oracle upgrade,
    # and the new auto-family LSH query (rows-only; never verified, so it
    # is in the needs-a-row pool by construction — listed to pin it at
    # the head) ---
    "cms_heavy_hitter_tokens",
    "simhash_fingerprints",
    "minhash_lsh_candidates",
    "lsh_dup_pairs_auto",
    "bigram_doc_logprob",
    "ccnet_quality_buckets",
    "curated_selection_pipeline",
    "ccnet_buckets_distributed",
    # --- r11 window: the oracle upgrade + the two plan-changed queries
    # first, then the r10 tail continues below ---
    "churn_features_gold",
    "ngram_jaccard_dups",
    "rfm_quintiles",
    # --- r10 window: the rank-family plan rewrite + sketch/bloom changes
    # (stamped 9 in _FORCE) — verify first, heaviest join-derived lineage
    # (the shapes that exposed the r9 divergence) at the very top ---
    "kmeans_cluster_profile",
    "ivf_ann_topk",
    "ivf_pq_ann_topk",
    "dsir_deciles_distributed",
    "ks_drift_report",
    "revenue_gini",
    "abc_customer_classes",
    "weighted_median_by_flag",
    "weighted_median_price",
    "percent_rank_prices",
    "global_row_number",
    # (rfm_quintiles moved to the r11 block at the top)
    "rfm_scores",
    "token_pack_assignments",
    "length_bucketed_batches",
    "quality_top_quartile",
    "corpus_build_pipeline",
    "training_shard_assignments",
    "domain_capped_sample",
    "source_epoch_plan",
    "churn_training_dataset",
    # (bloom_decontaminated_corpus moved to the r12 block at the top)
    # --- pre-r10 order below ---
    # changed or newly-oracled this round — verify first
    "simhash_near_pairs",
    "lag_time_delta",
    "embedding_int8_codes",
    # flagship + the join/relational suite
    "flagship_revenue_by_nation",
    "point_lookup",
    "range_enum_filter",
    "deterministic_sample",
    "pagination",
    "broadcast_dim_join",
    "left_join_lookup",
    "semi_join_active",
    "anti_join_churned",
    "topk_customers",
    "distinct_rows",
    "union_append",
    "intersect_segments",
    "except_all_pending",
    "star_revenue_rollup",
    "sql_interface_probe",
    "salted_skew_join_counts",
    # r01-red quality reports, fixed but never re-sampled
    "validity_report",
    "consistency_report",
    "outlier_report",
    "distribution_report",
    "quality_metrics_probe",
    "quarantine_rows",
    # remaining window frames
    "topn_per_customer",
    "share_within_group",
    "running_total",
    # TPC-H-shape subqueries
    "priority_with_lineitems",
    "customer_order_distribution",
    "large_quantity_orders",
    "wealthy_inactive_customers",
    "small_quantity_revenue",
    "significant_parts",
    "schema_validation_report",
    # text-analysis suite
    "token_stats",
    "language_id",
    "quality_scores",
    "doc_fingerprints",
    "tfidf_scores",
    "rolling_fingerprints",
    "gopher_quality_filter",
    # marquee custom operators
    "cosine_topk",
    "asof_purchase_click",
    # --- r05 window starts here (the 50 slots above went green in r04) ---
    # Round-4 judge directive: r05 takes the most user-visible suites —
    # the full TPC-H suite first, then temporal/analytics, then corpus.
    "lsh_ann_topk",
    # TPC-H suite (queries/tpch.py, complete)
    "shipping_priority",
    "local_supplier_volume",
    "nation_trade_volume",
    "nation_market_share",
    "product_type_profit",
    "forecast_revenue_change",
    "returned_item_losses",
    "promo_revenue_share",
    "discounted_brand_revenue",
    "ship_delay_priority",
    "top_revenue_supplier",
    "part_supplier_counts",
    "volume_part_suppliers",
    "waiting_suppliers",
    # judge-named analytics/temporal headliners
    "cohort_retention",
    "ewm_user_value",
    "rolling_7d_active_users",
    # judge-named corpus headliners
    "temperature_mixture_sample",
    "language_id_confusion",
    # temporal/event suite (queries/temporal.py, complete)
    "tumbling_window_counts",
    "sliding_window_counts",
    "session_window_stats",
    "click_attribution_window",
    "behavioral_columns_from_events",
    "session_purchase_attribution",
    "funnel_counts",
    "latest_event_per_user",
    "snapshot_diff_events",
    "event_props_rollup",
    "event_props_variant_rollup",
    "cohort_ltv_curves",
    "user_state_history",
    # corpus-construction suite (rest of queries/corpus.py)
    "corpus_mixture_sample",
    "dedup_survivors",
    "corpus_composition_report",
    "weighted_doc_sample",
    "corpus_attrition_funnel",
    # dedup/similarity marquee closers
    "dup_cluster_size_histogram",
    "semantic_dedup_survivors",
    "nearest_train_similarity",
    "trailing_week_user_value",
    # --- r06 window starts here ---
    # r05 oracle upgrades — verify first
    "bpe_merges",
    "bpe_encoded_docs",
    "incremental_dedup_candidates",
    # analytics suite
    "segment_balance_deciles",
    "daily_purchases_gapfilled",
    "mad_outlier_report",
    "burst_first_events",
    "signup_to_purchase_latency",
    "user_journey_frequencies",
    "source_entropy",
    "value_histogram",
    "forward_fill_values",
    "collated_source_counts",
    "event_transition_matrix",
    "time_weighted_average",
    "null_safe_segment_join",
    "purchase_streaks",
    "monthly_revenue_mom",
    "first_second_purchase",
    "interpolated_values",
    "weekday_seasonality",
    "purchase_cadence",
    "seasonal_value_anomalies",
    "new_vs_returning_users",
    "dau_mau_stickiness",
    "cumulative_unique_users",
    "repeat_purchase_rate",
    "daily_revenue_7d_ma",
    # text suite
    "unigram_doc_logprob",
    "decontaminated_corpus",
    "token_zipf_curve",
    "line_dedup_docs",
    "sentiment_scores",
    "normalized_text",
    "shared_span_pairs",
    "repetition_metrics",
    "pii_redaction_report",
    "benchmark_contamination",
    "doc_chunk_assignments",
    "bpe_pair_counts",
    "doc_chunk_texts",
    # similarity / quality / features / olap / aggregates remainder
    "embedding_norms",
    "label_centroid_norms",
    "embedding_dup_pairs",
    "embedding_dim_stats",
    "join_key_skew_report",
    "drift_report",
    "fk_integrity_report",
    "loo_target_encoding",
    "hashed_segment_features",
    "unpivoted_customer_metrics",
    "topk_orders_with_ties",
    "activity_heatmap",
    "correlation_matrix",
    "segment_price_percentiles",
    "basket_part_pairs",
    # rows-only tail (weaker contract rows — take slots last)
    "rolling_7d_active_users_hll",
    # r07 oracle upgrades — queued BEHIND the 61 never-driver-verified
    # oracle queries (the r4 verdict's simulated r07 window must stay
    # intact); they take r08 slots together with the 11-query remainder
    "order_trend_pandas",
    "global_kpis",
    # moved here from the flagship/joins block when its money sums switched
    # to decimal accumulation (_FORCE=6): as a pool member again it must
    # queue BEHIND the never-verified window, not at its old front slot
    "pricing_summary",
    # same move for the grouping-sets grand total (_FORCE=6)
    "grouping_sets_revenue",
    # new in r8 — queue behind every re-stamp so the planned window holds;
    # 23 spare slots comfortably absorb them
    "minhash_jaccard_estimates",
    "ngram_novelty_scores",
]


def _last_verified() -> dict[str, int]:
    """Latest round each query got a green driver row, from the repo-root
    CORRECTNESS_r*.json audit trail. Non-green rows don't count, so a failed
    query rotates straight back into the window after a fix."""
    from ..artifacts import round_artifacts

    last: dict[str, int] = {}
    for rnd, data in round_artifacts("CORRECTNESS"):
        for q, rec in data.items():
            if not isinstance(rec, dict):
                continue
            err = rec.get("err")
            # green oracle row, or a rows-only query that got its (weaker)
            # contract check — both count as "verified this round" so they
            # rotate out of the window; real failures rotate back in.
            green = err is None and (
                rec.get("hash_match")
                or (rec.get("rows_match") and rec.get("hash_match") is None)
            )
            if green or err == "no_oracle":
                last[q] = max(last.get(q, 0), rnd)
    return last


def _rotated(names: list[str]) -> list[str]:
    last = _last_verified()
    # first occurrence wins: a query re-listed at the TOP for a new round
    # must not fall back to its stale position further down the list
    pri: dict[str, int] = {}
    for i, q in enumerate(_PRIORITY):
        pri.setdefault(q, i)
    idx = {q: i for i, q in enumerate(names)}

    def sort_last(q: str) -> int:
        lv = last.get(q, -1)
        if lv < 0 or (q in _FORCE and lv <= _FORCE[q]):
            # one pool for "needs a driver row": never-verified queries and
            # semantics-changed ones (stale green row). Within the pool
            # _PRIORITY decides who gets this round's 50-slot window — the
            # window is smaller than the pool, so the ORDER is the policy:
            # changed queries first, then the longest-waiting suites
            # (flagship/joins/windows/quality/text), then declaration order.
            return -2
        return lv

    return sorted(
        names, key=lambda q: (sort_last(q), pri.get(q, len(pri)), idx[q])
    )


def all_queries():
    load_all()
    return {name: QUERIES[name] for name in _rotated(list(QUERIES))}


def all_oracles():
    load_all()
    order = _rotated(list(QUERIES))
    return {name: ORACLES[name] for name in order if name in ORACLES}
