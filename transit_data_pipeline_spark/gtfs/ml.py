"""Delay-prediction model (ref `train_delay_model.py` /
`predict_delays.py`) as a SparkML Pipeline.

Reference → Spark mapping (SURVEY §2 D6-D7):
  LabelEncoder(unseen→-1)      → StringIndexer(handleInvalid='keep')
  StandardScaler (sklearn)     → VectorAssembler + StandardScaler
  XGBRegressor + GridSearchCV  → GBTRegressor + ParamGridBuilder/
                                 CrossValidator (train_cv: the
                                 literal {6,8}×{1,3} 3-fold grid)
  ±5/±10-min tolerance accuracy→ avg((abs(pred−label) ≤ tol)::int)
  pd.cut risk bins             → chained when() (F13)

Training stays distributed end-to-end: no driver-side pandas frame,
no collect — at 100 TB the feature table never leaves executors.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.errors import IllegalArgumentException
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import StandardScaler, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LABEL = "delay_minutes"
CATEGORICAL = ("route_id", "weather_condition")
NUMERIC = (
    "hour_of_day",
    "day_of_week",
    "month",
    "week_of_year",
    "is_weekend",
    "is_rush_hour",
    "is_holiday",
    "weather_severity",
    "route_type",
    "stop_sequence",
    "stops_remaining",
    "weekend_weather_interaction",
    "rush_weather_interaction",
    "avg_delay_same_route_7d",
    "avg_delay_same_route_30d",
    "avg_delay_same_stop_7d",
    "avg_delay_same_stop_30d",
    "avg_delay_same_route_stop_30d",
    "avg_delay_same_trip_30d",
    "avg_delay_same_hour_30d",
    "avg_delay_route_hour_30d",
    "avg_delay_same_dow_30d",
    "avg_delay_same_weather_30d",
    "avg_delay_route_dow_30d",
)


def build_pipeline(max_depth: int = 6, max_iter: int = 40, seed: int = 42) -> Pipeline:
    # One multi-column indexer: the same per-column labels as one
    # indexer per column, fitted in one pass and saved as one stage.
    indexer = StringIndexer(
        inputCols=list(CATEGORICAL),
        outputCols=[f"{c}_idx" for c in CATEGORICAL],
        handleInvalid="keep",
    )
    assembler = VectorAssembler(
        inputCols=[f"{c}_idx" for c in CATEGORICAL] + list(NUMERIC),
        outputCol="features_raw",
        handleInvalid="keep",
    )
    scaler = StandardScaler(inputCol="features_raw", outputCol="features")
    gbt = GBTRegressor(
        labelCol=LABEL,
        featuresCol="features",
        maxDepth=max_depth,
        maxIter=max_iter,
        stepSize=0.1,
        subsamplingRate=0.8,
        seed=seed,
    )
    return Pipeline(stages=[indexer, assembler, scaler, gbt])


def train(train_df: DataFrame, **kwargs) -> PipelineModel:
    df = train_df.na.fill(0, subset=list(NUMERIC))
    return build_pipeline(**kwargs).fit(df)


def train_cv(
    train_df: DataFrame,
    max_depths: tuple[int, ...] = (6, 8),
    min_instances: tuple[int, ...] = (1, 3),
    num_folds: int = 3,
    max_iter: int = 40,
    seed: int = 42,
) -> tuple[PipelineModel, dict]:
    """The reference's literal hyperparameter sweep
    (`train_delay_model.py:292-309`: max_depth {6,8} ×
    min_child_weight {1,3}, GridSearchCV cv=3 scored by neg-MSE) as a
    SparkML CrossValidator. min_child_weight's SparkML analogue is
    minInstancesPerNode (both floor the per-leaf evidence); RMSE
    selects the same winner neg-MSE does (monotone transform).

    Note on expectations (BASELINE.md): the synthetic label carries a
    ~6.9-min Bayes MAE floor, so the sweep's cells score within noise
    of each other — the value here is grid-parity with the reference,
    not model lift. Returns (best fitted pipeline, summary with the
    chosen cell and per-cell mean CV-RMSE)."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    df = train_df.na.fill(0, subset=list(NUMERIC))
    pipeline = build_pipeline(max_iter=max_iter, seed=seed)
    gbt = pipeline.getStages()[-1]
    grid = (
        ParamGridBuilder()
        .addGrid(gbt.maxDepth, list(max_depths))
        .addGrid(gbt.minInstancesPerNode, list(min_instances))
        .build()
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            labelCol=LABEL, predictionCol="prediction", metricName="rmse"
        ),
        numFolds=num_folds,
        parallelism=len(grid),
        seed=seed,
    )
    fitted = cv.fit(df)
    cells = [
        {
            "max_depth": pm[gbt.maxDepth],
            "min_instances_per_node": pm[gbt.minInstancesPerNode],
            "cv_rmse": m,
        }
        for pm, m in zip(grid, fitted.avgMetrics)
    ]
    best = min(cells, key=lambda c: c["cv_rmse"])
    summary = {
        "best_params": {
            "max_depth": best["max_depth"],
            "min_instances_per_node": best["min_instances_per_node"],
        },
        "best_cv_rmse": best["cv_rmse"],
        "cells": cells,
        "num_folds": num_folds,
    }
    return fitted.bestModel, summary


def save_model(model: PipelineModel, path: str, version: str = "v1",
               trained_at: str = "") -> None:
    """Persist the fitted pipeline + metadata. The reference pickles
    model + encoders + scaler + feature list in one artifact
    (`train_delay_model.py:436-465`); a PipelineModel already bundles
    the indexer/assembler/scaler/regressor stages, so the artifact is
    the saved pipeline plus a JSON metadata sidecar."""
    import json
    import os

    model.write().overwrite().save(os.path.join(path, "pipeline"))
    meta = {
        "model_version": version,
        "trained_at": trained_at,  # parameterized — never wall-clock
        "label": LABEL,
        "categorical": list(CATEGORICAL),
        "numeric": list(NUMERIC),
    }
    with open(os.path.join(path, "metadata.json"), "w") as f:
        json.dump(meta, f, indent=1)


def load_model(path: str) -> tuple[PipelineModel, dict]:
    """Reload a persisted artifact: (PipelineModel, metadata). The
    daily-predict path runs from this, as the reference's
    predict_delays.py loads its pickle (`predict_delays.py:60-74`)."""
    import json
    import os

    model = PipelineModel.load(os.path.join(path, "pipeline"))
    with open(os.path.join(path, "metadata.json")) as f:
        meta = json.load(f)
    return model, meta


def _within(tolerance_min: float):
    """Mean of |prediction − label| ≤ tolerance, as an aggregate column."""
    err = F.abs(F.col("prediction") - F.col(LABEL))
    return F.avg((err <= tolerance_min).cast("double"))


def tolerance_accuracy(predictions: DataFrame, tolerance_min: float = 10.0) -> float:
    """Fraction of predictions within ±tolerance minutes (ref
    `train_delay_model.py:400-416` / acceptance `:584`)."""
    return predictions.agg(_within(tolerance_min)).first()[0]


def _ieee_div(num: float, den: float) -> float:
    """num / den with IEEE semantics (x/0 → ±inf, 0/0 → NaN), as the
    JVM computes it; Python float division raises instead."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return float(np.float64(num) / np.float64(den))


def evaluate(model: PipelineModel, test_df: DataFrame) -> dict[str, float]:
    """rmse, mae, r2 and the ±5/±10-min tolerance accuracies of the
    model on ``test_df``, from ONE aggregate over its predictions: the
    count, Σerr², Σ|err|, the label's population variance and the two
    tolerance means. Same values as three ``RegressionEvaluator``s plus
    two :func:`tolerance_accuracy` calls (r2 = 1 − Σerr² / (n·var_pop),
    Spark's ``RegressionMetrics`` definition), up to float summation
    order, in one pass instead of five. Degenerate splits behave as
    there: an empty split raises the summarizer's error, and a
    constant label gives r2 = −inf (or NaN when every prediction is
    exact)."""
    preds = model.transform(test_df.na.fill(0, subset=list(NUMERIC)))
    err = F.col("prediction") - F.col(LABEL)
    n, sse, sae, var, acc5, acc10 = preds.agg(
        F.count(F.lit(1)),
        F.sum(err * err),
        F.sum(F.abs(err)),
        F.var_pop(LABEL),
        _within(5.0),
        _within(10.0),
    ).first()
    if n == 0:
        raise IllegalArgumentException(
            "requirement failed: Nothing has been added to this summarizer."
        )
    return {
        "rmse": math.sqrt(sse / n),
        "mae": sae / n,
        "r2": 1.0 - _ieee_div(sse, n * var),
        "acc_5min": acc5,
        "acc_10min": acc10,
    }


def with_risk_level(predictions: DataFrame) -> DataFrame:
    """Risk binning: ≤5 Low, ≤10 Medium, ≤20 High, else Severe
    (ref `predict_delays.py:348-352,411-415`)."""
    p = F.col("prediction")
    return predictions.withColumn(
        "risk_level",
        F.when(p <= 5, "Low").when(p <= 10, "Medium").when(p <= 20, "High").otherwise("Severe"),
    )


def best_worst_predictions(predictions: DataFrame, k: int = 10) -> tuple[DataFrame, DataFrame]:
    """Top-k best/worst by absolute error with deterministic tiebreak
    (ref nsmallest/nlargest `predict_delays.py:176,181`)."""
    err = predictions.withColumn("abs_error", F.abs(F.col("prediction") - F.col(LABEL)))
    best = err.orderBy(F.col("abs_error").asc(), F.col("feature_id")).limit(k)
    worst = err.orderBy(F.col("abs_error").desc(), F.col("feature_id")).limit(k)
    return best, worst
