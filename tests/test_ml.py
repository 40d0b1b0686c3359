"""ML-layer tests (M2/M3/M4/M7/M8/M10): split determinism + stratification,
scaler leakage discipline, trainable signal on the churn dataset, CV folds."""

from __future__ import annotations

from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.ml import (
    churn_dataset,
    cross_validate,
    evaluate_classifier,
    feature_importances,
    fit_standard_scaler,
    stratified_folds,
    stratified_split,
    train_classifier,
)
from skiliopay_datapipeline_customer_spark.ml.dataset import FEATURE_COLS, LABEL_COL


def test_stratified_split_proportions_and_determinism(spark, sf_dir):
    ds = churn_dataset(spark, sf_dir)
    a = stratified_split(ds, LABEL_COL, key_col="c_custkey")
    counts = {
        (r[LABEL_COL], r["_split"]): r["n"]
        for r in a.groupBy(LABEL_COL, "_split").agg(F.count("*").alias("n")).collect()
    }
    for label in (0, 1):
        n = sum(v for (lb, _), v in counts.items() if lb == label)
        got_train = counts.get((label, 0), 0) / n
        assert abs(got_train - 0.6) < 0.05, (label, got_train)
    # deterministic: same seed → identical assignment
    b = stratified_split(ds, LABEL_COL, key_col="c_custkey")
    assert (
        a.select("c_custkey", "_split")
        .exceptAll(b.select("c_custkey", "_split"))
        .count()
        == 0
    )


def test_stratified_folds_cover_and_partition(spark, sf_dir):
    ds = churn_dataset(spark, sf_dir)
    folded = stratified_folds(ds, LABEL_COL, key_col="c_custkey", n_folds=5)
    sizes = [r["n"] for r in folded.groupBy("fold").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 5 and min(sizes) > 0
    assert sum(sizes) == ds.count()


def test_scaler_fit_on_train_only(spark, sf_dir):
    ds = stratified_split(
        churn_dataset(spark, sf_dir), LABEL_COL, key_col="c_custkey"
    )
    train = ds.filter(F.col("_split") == 0)
    params, transform = fit_standard_scaler(train, ["monetary", "frequency"])
    scaled_train = transform(train)
    row = scaled_train.agg(
        F.avg("monetary").alias("m"), F.stddev_samp("monetary").alias("s")
    ).first()
    # train split standardized exactly; test split is NOT re-fit (params fixed)
    assert abs(row["m"]) < 1e-9 and abs(row["s"] - 1.0) < 1e-9
    mean_monetary = params["monetary"][0]
    test_mean = (
        transform(ds.filter(F.col("_split") == 2)).agg(F.avg("monetary")).first()[0]
    )
    assert abs(test_mean) > 1e-12  # would be ~0 only if leaked/refit
    assert mean_monetary != 0


def test_train_eval_importances(spark, sf_dir):
    ds = stratified_split(
        churn_dataset(spark, sf_dir), LABEL_COL, key_col="c_custkey"
    ).cache()
    train = ds.filter(F.col("_split") == 0)
    test = ds.filter(F.col("_split") == 2)
    model, transform = train_classifier(
        train, FEATURE_COLS, LABEL_COL, model_type="gbt", maxIter=10
    )
    metrics = evaluate_classifier(transform(test), LABEL_COL)
    # recency_days encodes the label cutoff → near-perfect separability
    assert metrics["roc_auc"] > 0.95 and metrics["accuracy"] > 0.9
    imps = feature_importances(model, FEATURE_COLS)
    assert imps[0][0] == "recency_days" and abs(sum(v for _, v in imps) - 1.0) < 1e-6
    ds.unpersist()  # session-scoped spark — don't leak storage into later tests


def test_rf_alternate_and_cv(spark, sf_dir):
    ds = churn_dataset(spark, sf_dir)
    cv = cross_validate(
        ds,
        FEATURE_COLS,
        LABEL_COL,
        key_col="c_custkey",
        n_folds=3,
        model_type="rf",
        numTrees=20,
    )
    assert cv["cv_roc_auc_mean"] > 0.9
    assert cv["cv_roc_auc_std"] < 0.05


def test_churn_benchmark_passes_reference_deploy_gate(spark, sf_dir, tmp_path):
    """The reference ships a model only at accuracy >= 0.75 and ROC-AUC >=
    0.80 (dags/churn_prediction_pipeline.py:179-186; its recorded XGBoost
    test ROC-AUC is 0.9441). The engine's GBT twin must clear the same gate,
    and the run must land in the JSONL tracker."""
    from skiliopay_datapipeline_customer_spark.ml.pipeline import churn_benchmark
    from skiliopay_datapipeline_customer_spark.ml.tuning import RunTracker

    path = str(tmp_path / "runs.jsonl")
    result = churn_benchmark(spark, sf_dir, path, maxIter=10)
    assert result["gate"]["deploy"] is True
    assert result["metrics"]["accuracy"] >= 0.75
    assert result["metrics"]["roc_auc"] >= 0.80
    runs = RunTracker(path).runs()
    assert len(runs) == 1 and runs[0]["metrics"]["roc_auc"] >= 0.80


def test_deploy_gate_rejects_below_threshold():
    from skiliopay_datapipeline_customer_spark.ml.pipeline import deploy_gate

    bad = deploy_gate({"accuracy": 0.74, "roc_auc": 0.95})
    assert bad["deploy"] is False and bad["checks"]["accuracy"]["value"] == 0.74
    good = deploy_gate({"accuracy": 0.76, "roc_auc": 0.81})
    assert good["deploy"] is True


def test_score_external_model_predict_batch_udf(spark, sf_dir):
    """External-model tier: predict_batch_udf loads the 'model' once per
    executor and scores batched numpy arrays — equivalent here to the
    closed-form expression it wraps."""
    from skiliopay_datapipeline_customer_spark.ml.scoring import (
        score_external_model,
    )

    ds = churn_dataset(spark, sf_dir)

    def make_fn():
        import numpy as np

        def predict(recency, monetary):
            return 1.0 / (1.0 + np.exp(-(0.01 * recency - 0.0001 * monetary)))

        return predict

    scored = score_external_model(ds, ["recency_days", "monetary"], make_fn)
    rows = scored.select("c_custkey", "recency_days", "monetary", "score").collect()
    import math

    assert len(rows) == ds.count()
    for r in rows[:50]:
        expect = 1.0 / (1.0 + math.exp(-(0.01 * r["recency_days"] - 0.0001 * r["monetary"])))
        assert abs(r["score"] - expect) < 1e-9


def test_tune_threshold_single_pass_beats_or_matches_default(spark, sf_dir):
    """Threshold tuning sweeps the grid in ONE aggregate. On a score
    distribution where half the positives sit below 0.5, the F1-optimal
    cutoff is below the default and strictly better (exact hand-computable
    confusion counts); on the separable churn frame it matches the default."""
    from pyspark.ml.linalg import Vectors

    from skiliopay_datapipeline_customer_spark.ml.pipeline import tune_threshold

    rows = (
        [(Vectors.dense([0.65, 0.35]), 1)] * 10   # positives under 0.5
        + [(Vectors.dense([0.2, 0.8]), 1)] * 10   # confident positives
        + [(Vectors.dense([0.9, 0.1]), 0)] * 80   # easy negatives
        + [(Vectors.dense([0.6, 0.4]), 0)] * 5    # hard negatives
    )
    preds = spark.createDataFrame(rows, ["probability", "label"])
    out = tune_threshold(preds, "label")
    assert len(out["grid"]) == 19
    default = next(r for r in out["grid"] if abs(r["threshold"] - 0.5) < 1e-9)
    # t=0.5: TP=10 FN=10 FP=0 -> F1=2/3; t<=0.35: TP=20 FP=5 -> F1=8/9
    assert abs(default["f1"] - 2 / 3) < 1e-9
    assert out["best_threshold"] < 0.5 and abs(out["best_f1"] - 8 / 9) < 1e-9

    # separable churn frame: tuned cutoff can't do worse than the default
    ds = churn_dataset(spark, sf_dir)
    _, transform = train_classifier(ds, FEATURE_COLS, LABEL_COL, model_type="lr")
    out2 = tune_threshold(transform(ds), LABEL_COL)
    d2 = next(r for r in out2["grid"] if abs(r["threshold"] - 0.5) < 1e-9)
    assert out2["best_f1"] >= d2["f1"] > 0


def test_confusion_matrix_cells_agree_with_metrics(spark, sf_dir):
    """One groupBy produces the 4 cells; derived precision/recall/F1 agree
    with hand-crafted predictions whose cells are known exactly."""
    from skiliopay_datapipeline_customer_spark.ml.pipeline import confusion_matrix

    rows = (
        [(1, 1.0)] * 30 + [(1, 0.0)] * 10 + [(0, 1.0)] * 5 + [(0, 0.0)] * 55
    )
    preds = spark.createDataFrame(rows, "label int, prediction double")
    cm = confusion_matrix(preds, "label")
    assert (cm["tp"], cm["fp"], cm["fn"], cm["tn"]) == (30, 5, 10, 55)
    assert abs(cm["precision"] - 30 / 35) < 1e-12
    assert abs(cm["recall"] - 30 / 40) < 1e-12
    assert cm["n"] == 100


def _evaluator_metrics(predictions, label_col):
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    return {
        key: MulticlassClassificationEvaluator(
            labelCol=label_col, predictionCol="prediction", metricName=metric
        ).evaluate(predictions)
        for metric, key in [
            ("accuracy", "accuracy"),
            ("weightedPrecision", "precision"),
            ("weightedRecall", "recall"),
            ("f1", "f1"),
        ]
    }


def test_one_pass_metrics_equal_the_multiclass_evaluator(spark, sf_dir):
    """The confusion-count metrics equal MulticlassClassificationEvaluator's:
    bit for bit on binary labels (the trained model's test split and
    hand-made confusions, one with a label never predicted), and within
    1e-12 on three classes where one label is never predicted and one
    prediction never labelled (summation order may differ)."""
    from skiliopay_datapipeline_customer_spark.ml.pipeline import (
        _multiclass_metrics,
    )

    ds = stratified_split(
        churn_dataset(spark, sf_dir), LABEL_COL, key_col="c_custkey"
    ).cache()
    _model, transform = train_classifier(
        ds.filter(F.col("_split") == 0), FEATURE_COLS, LABEL_COL, maxIter=3
    )
    scored = transform(ds.filter(F.col("_split") == 2))
    assert _multiclass_metrics(scored, LABEL_COL) == _evaluator_metrics(
        scored, LABEL_COL
    )
    ds.unpersist()

    def frame(cells):
        rows = [(lab, pred) for lab, pred, n in cells for _ in range(n)]
        return spark.createDataFrame(rows, "label int, prediction double")

    for cells in [
        [(0, 0.0, 37), (0, 1.0, 5), (1, 0.0, 11), (1, 1.0, 23)],
        [(0, 0.0, 3), (1, 0.0, 7)],  # label 1 never predicted
        [(0, 1.0, 4), (1, 1.0, 9), (1, 0.0, 2)],
    ]:
        df = frame(cells)
        assert _multiclass_metrics(df, "label") == _evaluator_metrics(df, "label")

    three = frame(
        [
            (0, 0.0, 13), (0, 1.0, 4), (0, 3.0, 2),  # 3.0 is never a label
            (1, 1.0, 17), (1, 0.0, 6),
            (2, 0.0, 5), (2, 1.0, 3),  # label 2 is never predicted
        ]
    )
    got, want = _multiclass_metrics(three, "label"), _evaluator_metrics(three, "label")
    assert got.keys() == want.keys()
    for key in want:
        assert abs(got[key] - want[key]) <= 1e-12, key
