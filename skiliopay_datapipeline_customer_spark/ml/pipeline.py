"""Classifier training / evaluation / CV (M4-M10).

The reference trains XGBoost with an RF alternate behind a model-type switch
(src/ml/model_trainer.py:243-263,336-358). Spark-native equivalents:
GBTClassifier (gradient-boosted trees ≈ XGBoost's model class) and
RandomForestClassifier, both distributed. Metrics mirror M7: accuracy,
weighted precision/recall/F1, ROC-AUC. CV (M8) trains one model per
precomputed stratified fold — fold assignment comes from split.py so folds
are reproducible, unlike CrossValidator's internal random folds.

Scale notes: tree training is Spark ML's distributed histogram algorithm;
evaluation is one confusion count for the multiclass metrics plus the
ROC-AUC pass. Nothing collects more than scalar metrics (or the few rows of
the confusion count) to the driver.
"""

from __future__ import annotations

from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .split import stratified_folds


def _assembler(feature_cols: list[str]) -> VectorAssembler:
    return VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="keep"
    )


def train_classifier(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    model_type: str = "gbt",
    seed: int = 42,
    **hp,
):
    """Returns (pipeline_model_like, transform) — model fit on assembled
    vectors. hp passes through (maxDepth, maxIter/numTrees, stepSize...).
    The fit runs at call time (kept; SCALE.md, "Spark actions at build
    time"): the model is data, and ``transform`` needs it."""
    asm = _assembler(feature_cols)
    assembled = asm.transform(train)
    if model_type == "gbt":
        clf = GBTClassifier(
            labelCol=label_col,
            featuresCol="features",
            seed=seed,
            maxDepth=hp.pop("maxDepth", 5),
            maxIter=hp.pop("maxIter", 20),
            stepSize=hp.pop("stepSize", 0.1),
            **hp,
        )
    elif model_type == "rf":
        clf = RandomForestClassifier(
            labelCol=label_col,
            featuresCol="features",
            seed=seed,
            maxDepth=hp.pop("maxDepth", 5),
            numTrees=hp.pop("numTrees", 50),
            **hp,
        )
    elif model_type == "lr":  # linear baseline (abs(coef_) importances, M10)
        clf = LogisticRegression(
            labelCol=label_col,
            featuresCol="features",
            maxIter=hp.pop("maxIter", 50),
            regParam=hp.pop("regParam", 0.0),
            **hp,
        )
    else:  # the reference raises on lightgbm too (model_trainer.py:354-358)
        raise ValueError(f"unsupported model_type: {model_type}")
    model = clf.fit(assembled)

    def transform(df: DataFrame) -> DataFrame:
        return model.transform(asm.transform(df))

    return model, transform


def _multiclass_metrics(predictions: DataFrame, label_col: str) -> dict[str, float]:
    """Accuracy and weighted precision/recall/F1 from one confusion count,
    a ``groupBy(label, prediction).count()`` of a few rows, with Spark
    ``MulticlassMetrics``' formulas in its evaluation order: per label
    (labels from the label column only) ``metric · count / n`` summed,
    precision 0 for a label never predicted, F1 = ``2·p·r/(p+r)``. On a
    binary label each sum has two terms, so the values equal
    ``MulticlassClassificationEvaluator``'s bit for bit; with more labels
    the summation order may differ in the last bits."""
    label_n: dict[float, float] = {}
    tp: dict[float, float] = {}
    fp: dict[float, float] = {}
    for label, pred, count in predictions.groupBy(
        F.col(label_col).cast("double"), F.col("prediction")
    ).count().collect():
        label_n[label] = label_n.get(label, 0.0) + count
        if label == pred:
            tp[label] = tp.get(label, 0.0) + count
        else:
            fp[pred] = fp.get(pred, 0.0) + count
    n = sum(label_n.values(), 0.0)

    def precision(c: float) -> float:
        t, f = tp.get(c, 0.0), fp.get(c, 0.0)
        return 0.0 if t + f == 0 else t / (t + f)

    def recall(c: float) -> float:
        return tp.get(c, 0.0) / label_n[c]

    def f1(c: float) -> float:
        p, r = precision(c), recall(c)
        return 0.0 if p + r == 0 else 2.0 * p * r / (p + r)

    def weighted(metric) -> float:
        return sum((metric(c) * w / n for c, w in sorted(label_n.items())), 0.0)

    return {
        "accuracy": sum(tp.values(), 0.0) / n if n else float("nan"),
        "precision": weighted(precision),
        "recall": weighted(recall),
        "f1": weighted(f1),
    }


def evaluate_classifier(predictions: DataFrame, label_col: str) -> dict[str, float]:
    """M7: accuracy, weighted precision/recall/F1, ROC-AUC — the reference's
    metric set (model_trainer.py:360-374). The first four come from one
    confusion count (``_multiclass_metrics``); ROC-AUC stays on
    ``BinaryClassificationEvaluator``, whose score binning differs at
    scale."""
    out = _multiclass_metrics(predictions, label_col)
    out["roc_auc"] = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(predictions)
    return out


def deploy_gate(
    metrics: dict[str, float],
    min_accuracy: float = 0.75,
    min_roc_auc: float = 0.80,
) -> dict:
    """M12: the reference's deployment promotion gate
    (dags/churn_prediction_pipeline.py:179-186) — a model ships only when
    accuracy >= 0.75 AND ROC-AUC >= 0.80. Returns the decision plus the
    per-check detail the pipeline logs."""
    checks = {
        "accuracy": (metrics["accuracy"], min_accuracy),
        "roc_auc": (metrics["roc_auc"], min_roc_auc),
    }
    return {
        "deploy": all(v >= t for v, t in checks.values()),
        "checks": {k: {"value": v, "threshold": t} for k, (v, t) in checks.items()},
    }


def churn_benchmark(
    spark,
    sf_dir: str,
    tracker_path: str,
    model_type: str = "gbt",
    **params,
) -> dict:
    """M4/M7/M12 end-to-end: train the distributed booster on the churn
    fixture, evaluate the reference's metric set on the held-out test split,
    log to the JSONL tracker, and apply the deploy gate — the engine's
    recorded counterpart of the reference's headline run (model_trainer.py:
    243-263: XGBoost test ROC-AUC 0.9441 on its 50 k-row dataset; GBT is the
    survey-sanctioned distributed stand-in)."""
    from pyspark.sql import functions as F

    from .dataset import FEATURE_COLS, LABEL_COL, churn_dataset
    from .split import stratified_split
    from .tuning import RunTracker

    ds = stratified_split(
        churn_dataset(spark, sf_dir), LABEL_COL, key_col="c_custkey"
    ).cache()
    train = ds.filter(F.col("_split") == 0)
    test = ds.filter(F.col("_split") == 2)
    model, transform = train_classifier(
        train, FEATURE_COLS, LABEL_COL, model_type=model_type, **params
    )
    metrics = evaluate_classifier(transform(test), LABEL_COL)
    gate = deploy_gate(metrics)
    tracker = RunTracker(tracker_path)
    tracker.start_run(f"churn_{model_type}")
    tracker.log_params(
        {"model_type": model_type, "sf_dir": sf_dir, "n_rows": ds.count(), **params}
    )
    tracker.log_metrics({**metrics, "deploy": float(gate["deploy"])})
    tracker.end_run()
    ds.unpersist()
    return {"metrics": metrics, "gate": gate}


def feature_importances(model, feature_cols: list[str], top_n: int = 20):
    """M10: named importances sorted desc, top-n (model_trainer.py:394-411);
    linear models use |coefficients| like the reference (:404)."""
    if hasattr(model, "featureImportances"):
        values = model.featureImportances.toArray().tolist()
    else:
        values = [abs(c) for c in model.coefficients.toArray().tolist()]
    pairs = sorted(zip(feature_cols, values), key=lambda kv: -kv[1])
    return pairs[:top_n]


def cross_validate(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    key_col: str,
    n_folds: int = 5,
    model_type: str = "gbt",
    seed: int = 42,
    **hp,
) -> dict[str, float]:
    """M8: k-fold CV over a precomputed stratified fold column; returns
    mean/std of ROC-AUC like the reference (model_trainer.py:383-392)."""
    folded = stratified_folds(df, label_col, key_col, n_folds=n_folds, seed=seed)
    folded = folded.cache()
    aucs = []
    try:
        for k in range(n_folds):
            train = folded.filter(folded.fold != k)
            test = folded.filter(folded.fold == k)
            _, transform = train_classifier(
                train, feature_cols, label_col, model_type=model_type, seed=seed, **hp
            )
            aucs.append(
                BinaryClassificationEvaluator(
                    labelCol=label_col,
                    rawPredictionCol="rawPrediction",
                    metricName="areaUnderROC",
                ).evaluate(transform(test))
            )
    finally:
        folded.unpersist()
    mean = sum(aucs) / len(aucs)
    std = (sum((a - mean) ** 2 for a in aucs) / len(aucs)) ** 0.5
    return {"cv_roc_auc_mean": mean, "cv_roc_auc_std": std, "folds": aucs}


def tune_threshold(
    predictions: DataFrame,
    label_col: str,
    grid: list[float] | None = None,
) -> dict:
    """Decision-threshold tuning — the deployment step between scoring and
    the gate the reference leaves at the 0.5 default (its serving layer
    thresholds P(churn) implicitly, src/serving/api.py): pick the
    probability cutoff maximizing F1 on a validation frame.

    Scale shape: ONE aggregate pass computes the confusion counts for the
    WHOLE grid — 3 conditional sums per candidate threshold fused into a
    single scan/shuffle (never one job per threshold); the grid-sized
    result reduces on the driver. F1 = 2TP / (2TP + FP + FN).
    """
    from pyspark.ml.functions import vector_to_array

    grid = grid or [round(0.05 * k, 2) for k in range(1, 20)]
    p1 = F.element_at(vector_to_array(F.col("probability")), 2)
    pos = F.col(label_col) == 1
    scored = predictions.select(p1.alias("_p"), pos.alias("_y"))
    aggs = []
    for i, t in enumerate(grid):
        hit = F.col("_p") >= F.lit(float(t))
        aggs += [
            F.sum((hit & F.col("_y")).cast("long")).alias(f"tp_{i}"),
            F.sum((hit & ~F.col("_y")).cast("long")).alias(f"fp_{i}"),
            F.sum(((~hit) & F.col("_y")).cast("long")).alias(f"fn_{i}"),
        ]
    row = scored.agg(*aggs).first()
    table = []
    for i, t in enumerate(grid):
        # conditional sums are NULL over an empty frame → count as zero
        tp = row[f"tp_{i}"] or 0
        fp = row[f"fp_{i}"] or 0
        fn = row[f"fn_{i}"] or 0
        f1 = (2 * tp / (2 * tp + fp + fn)) if (2 * tp + fp + fn) else 0.0
        table.append({"threshold": t, "tp": tp, "fp": fp, "fn": fn, "f1": f1})
    best = max(table, key=lambda r: (r["f1"], -r["threshold"]))
    return {"best_threshold": best["threshold"], "best_f1": best["f1"], "grid": table}


def confusion_matrix(
    predictions: DataFrame, label_col: str, prediction_col: str = "prediction"
) -> dict:
    """Confusion counts for the dashboard's model-performance page
    (src/dashboard/data_loader.py:160-237 computes the same cells with
    sklearn on the collected frame) — here ONE distributed groupBy over
    (label, prediction); only the 4 cells reach the driver. Derived
    precision/recall/F1 for the positive class come from the cells, so they
    agree exactly with the cell counts shown next to them."""
    cells = {
        (int(r["l"]), int(r["p"])): r["n"]
        for r in predictions
        # unlabeled / unscored rows can't land in a cell — drop, don't crash
        .filter(
            F.col(label_col).isNotNull() & F.col(prediction_col).isNotNull()
        )
        .groupBy(
            F.col(label_col).cast("int").alias("l"),
            F.col(prediction_col).cast("int").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    tp = cells.get((1, 1), 0)
    fp = cells.get((0, 1), 0)
    fn = cells.get((1, 0), 0)
    tn = cells.get((0, 0), 0)
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "tn": tn,
        "precision": prec,
        "recall": rec,
        "f1": (2 * prec * rec / (prec + rec)) if prec + rec else 0.0,
        "n": tp + fp + fn + tn,
    }
