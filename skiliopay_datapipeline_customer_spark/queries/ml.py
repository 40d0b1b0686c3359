"""ML-layer declared queries (SURVEY §2.10).

``churn_training_dataset`` (M1) is SQL-expressible and oracle-checked; the
model queries (M4/M6) are genuinely non-SQL ops, so they register WITHOUT an
oracle — the driver records the weaker rows-only check, per contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..ml.dataset import FEATURE_COLS, LABEL_COL, churn_dataset
from . import query


@query(
    "churn_training_dataset",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey,
           datediff('day', last_order, DATE '2001-08-02') AS recency_days,
           frequency, monetary,
           c_acctbal AS acctbal,
           CAST(last_order < DATE '2000-12-01' AS INT) AS churn_label
    FROM customer JOIN per_cust ON c_custkey = o_custkey
    ORDER BY c_custkey
    """,
)
def churn_training_dataset(spark, sf_dir):
    # avg_order_value (a sum/count division) is excluded from the hashed
    # surface: its true value can land exactly on a half-cent rounding
    # boundary, where double ulp noise flips round() between engines. It
    # remains a model feature in ml.dataset.
    return churn_dataset(spark, sf_dir).drop("avg_order_value").orderBy("c_custkey")


# M2/M4/M6: stratified split → GBT fit on train → score test split.
# Model inference is not SQL-expressible → rows-only check (no oracle).


@query("churn_predictions")
def churn_predictions(spark, sf_dir):
    from ..ml.pipeline import train_classifier
    from ..ml.split import stratified_split

    ds = stratified_split(
        churn_dataset(spark, sf_dir), LABEL_COL, key_col="c_custkey"
    )
    train = ds.filter(F.col("_split") == 0)
    test = ds.filter(F.col("_split") == 2)
    _, transform = train_classifier(
        train, FEATURE_COLS, LABEL_COL, model_type="gbt", maxIter=10
    )
    from pyspark.ml.functions import vector_to_array

    return (
        transform(test)
        .select(
            "c_custkey",
            LABEL_COL,
            F.col("prediction").cast("int").alias("prediction"),
            F.round(vector_to_array("probability")[1], 4).alias("churn_prob"),
        )
        .orderBy("c_custkey")
    )


# Embedding-space reduction/clustering (LLM-pipeline family). Both fits are
# data-derived iterative estimators (eigendecomposition / Lloyd) -> genuinely
# non-SQL, registered rows-only; tests/test_ml_extra.py carries the variance-
# ordering, orthogonality, determinism, and label-recovery assertions.


@query("pca_projected_embeddings")
def pca_projected_embeddings(spark, sf_dir):
    # The driver canonicalizes even rows-only outputs with a pandas
    # sort_values(), which raises TypeError on list cells (the r7/r8
    # bpe/pca failure class) — so the DECLARED query flattens the k=8
    # projection to scalar pc_0..pc_7 doubles. Library users who want the
    # array keep ml.embeddings.pca_project.
    from ..io import table
    from ..ml.embeddings import pca_project

    emb = table(spark, sf_dir, "embeddings")
    projected, _ = pca_project(emb, k=8)
    return projected.select(
        "vec_id", *[F.col("pca")[i].alias(f"pc_{i}") for i in range(8)]
    ).orderBy("vec_id")


def _kmeans_cte_chain(
    k: int = 10, iters: int = 3, dim: int = 64, scale: int = 10**6,
    salt: str = "km", prefix: str = "", vec_expr: str | None = None,
) -> str:
    """The exact-Lloyd replay as a reusable CTE chain (no WITH keyword, no
    final SELECT): ``{p}e`` (quantized vectors) → ``{p}c0`` (md5-order
    seeds) → ``{p}a<t>``/``{p}c<t>`` iteration rounds → ``{p}af`` (final
    assignment, cluster = kk % 16) and final centroids ``{p}c<iters>``.
    Shared by the kmeans_cluster_profile oracle here and the
    ivf_ann_topk / ivf_pq_ann_topk oracles (queries/similarity.py) —
    ``prefix`` namespaces the CTEs so several chains (coarse quantizer +
    one per PQ subspace) coexist in one statement, and ``vec_expr``
    overrides the quantized-vector SQL (raw scaled ints by default;
    callers pass unit-normalized or sliced forms)."""
    rng = f"range(1, {dim + 1})"
    order = f"md5('{salt}:' || CAST(vec_id AS VARCHAR))"
    p = prefix
    if vec_expr is None:
        vec_expr = (
            "list_transform(embedding,\n"
            f"               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"
        )

    def assign(name: str, prev: str) -> str:
        return f"""
    {name} AS (
      SELECT e.vec_id,
             min(list_sum(list_transform({rng},
                   i -> (e.e[i] - c.c[i]) * (e.e[i] - c.c[i]))) * 16 + c.j
                ) AS kk
      FROM {p}e e, {prev} c
      GROUP BY e.vec_id
    )"""

    def update(name: str, prev: str, a: str) -> str:
        return f"""
    {name} AS (
      SELECT prev.j, COALESCE(agg.c, prev.c) AS c
      FROM {prev} prev
      LEFT JOIN (
        SELECT j, list(cr ORDER BY i) AS c FROM (
          SELECT CAST(a.kk % 16 AS INT) AS j, d.i,
                 CASE WHEN sum(e.e[d.i]) >= 0
                      THEN (2 * sum(e.e[d.i]) + count(*)) // (2 * count(*))
                      ELSE -((-2 * sum(e.e[d.i]) + count(*)) // (2 * count(*)))
                 END AS cr
          FROM {a} a JOIN {p}e e ON a.vec_id = e.vec_id
          CROSS JOIN (SELECT unnest({rng}) AS i) d
          GROUP BY 1, 2
        ) s GROUP BY j
      ) agg ON agg.j = prev.j
    )"""

    ctes = [
        f"""{p}e AS (
      SELECT vec_id, label,
             {vec_expr} AS e
      FROM embeddings
    )""",
        f"""{p}c0 AS (
      SELECT e AS c,
             CAST(row_number() OVER (ORDER BY {order}) - 1 AS INT) AS j
      FROM {p}e
      QUALIFY row_number() OVER (ORDER BY {order}) <= {k}
    )""",
    ]
    for t in range(1, iters + 1):
        ctes.append(assign(f"{p}a{t}", f"{p}c{t - 1}").strip())
        ctes.append(update(f"{p}c{t}", f"{p}c{t - 1}", f"{p}a{t}").strip())
    ctes.append(assign(f"{p}af", f"{p}c{iters}").strip())
    return ",\n    ".join(ctes)


def _kmeans_oracle_sql(
    k: int = 10, iters: int = 3, dim: int = 64, scale: int = 10**6,
    salt: str = "km",
) -> str:
    """Full-replay oracle for `kmeans_profile_exact`: the identical
    quantization, md5-order init, integer argmin assignment
    (min(dist*16+j)), and exact rational half-away centroid update,
    unrolled over ``iters`` materialized CTE rounds (the BPE merge-loop
    oracle pattern, textops.py)."""
    ctes = [_kmeans_cte_chain(k, iters, dim, scale, salt)]
    ctes.append(
        """counts AS (
      SELECT CAST(af.kk % 16 AS INT) AS cluster, e.label, count(*) AS cnt
      FROM af JOIN e ON af.vec_id = e.vec_id
      GROUP BY 1, 2
    )"""
    )
    ctes.append(
        """tot AS (
      SELECT cluster, CAST(sum(cnt) AS BIGINT) AS n_vecs
      FROM counts GROUP BY cluster
    )"""
    )
    ctes.append(
        """maj AS (
      SELECT cluster, label, cnt,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY cnt DESC, label) AS rn
      FROM counts
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT t.cluster, t.n_vecs, m.label AS majority_label,
           round(CAST(m.cnt AS DOUBLE) / t.n_vecs, 4) AS purity
    FROM tot t JOIN maj m ON m.cluster = t.cluster AND m.rn = 1
    ORDER BY t.cluster
    """
    )


@query("kmeans_cluster_profile", oracle=_kmeans_oracle_sql())
def kmeans_cluster_profile(spark, sf_dir):
    """r10: moved from rows-only (Spark ML k-means, whose k-means|| init
    depends on RDD partitioning and cannot be replayed outside Spark) to
    the fully oracle-checked exact Lloyd tier — deterministic md5-order
    init, scaled-integer distances, exact rational centroid rounding, so
    DuckDB replays the whole clustering bit-for-bit. The Spark ML tier
    stays available as `ml.embeddings.kmeans_cluster_profile` (library
    path, planted-blob pytest)."""
    from ..io import table
    from ..ml.embeddings import kmeans_profile_exact

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_profile_exact(emb, k=10, iters=3)


# The dashboard's risk tiering of the predicted probability (pages.py:
# 253-256: <0.3 low / <0.7 medium / else high) rolled up over the scored
# test split — model-derived, so rows-only like its parent.


@query("risk_tier_counts")
def risk_tier_counts(spark, sf_dir):
    scored = churn_predictions(spark, sf_dir)
    tier = (
        F.when(F.col("churn_prob") < 0.3, "low")
        .when(F.col("churn_prob") < 0.7, "medium")
        .otherwise("high")
    )
    return (
        scored.groupBy(tier.alias("risk_tier"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("churn_prob"), 4).alias("avg_prob"),
            F.sum(F.col("churn_label").cast("long")).alias("n_actual_churned"),
        )
        .orderBy("risk_tier")
    )


# Calibration bins (reliability diagram): predicted-probability deciles vs
# observed churn rate — the diagnostic BEHIND the dashboard's probability
# display (a model can rank well yet be miscalibrated; threshold tuning
# assumes the probabilities mean something). One pass over the scored
# split; model-derived → rows-only.


@query("calibration_bins")
def calibration_bins(spark, sf_dir):
    scored = churn_predictions(spark, sf_dir)
    bin_col = F.least(F.floor(F.col("churn_prob") * 10), F.lit(9)).cast("int")
    return (
        scored.groupBy(bin_col.alias("prob_bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("churn_prob"), 4).alias("mean_predicted"),
            F.round(F.avg(F.col("churn_label").cast("double")), 4).alias(
                "observed_rate"
            ),
        )
        .orderBy("prob_bin")
    )
