"""Feature engineering + SparkML pipeline tests (ref train/predict)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def feature_frames(spark, tmp_path_factory):
    from transit_data_pipeline_spark.gtfs import features, ingest, synth

    out = str(tmp_path_factory.mktemp("gtfs_ml"))
    synth.generate(out, seed=42)
    staging = ingest.read_staging(spark, out)
    op = ingest.build_operational(staging)
    as_of = op["delay_events"].agg(
        F.date_format(F.max(F.to_date("actual_arrival")), "yyyy-MM-dd")
    ).first()[0]
    feats = features.build_features(op, as_of)  # returned materialized
    return op, feats


def test_feature_table_shape(feature_frames):
    op, feats = feature_frames
    assert feats.count() > 0
    # wide frame: base + interactions + 11 historical aggregates
    assert len(feats.columns) >= 30
    # COALESCE(...,0) semantics: no nulls in historical aggregates
    for c in [c for c in feats.columns if c.startswith("avg_delay_")]:
        assert feats.filter(F.col(c).isNull()).count() == 0, c


def test_split_deterministic(feature_frames):
    from transit_data_pipeline_spark.gtfs.features import train_test_views

    _, feats = feature_frames
    tr1, te1 = train_test_views(feats)
    tr2, te2 = train_test_views(feats)
    n, ntr, nte = feats.count(), tr1.count(), te1.count()
    assert ntr + nte == n
    assert abs(ntr - 0.8 * n) <= 1  # 80/20
    assert tr1.select("feature_id").subtract(tr2.select("feature_id")).count() == 0
    # time-ordered: max train date <= min test date boundary-ish
    assert (
        tr1.agg(F.max("event_date")).first()[0]
        <= te1.agg(F.max("event_date")).first()[0]
    )


def test_train_evaluate_predict(feature_frames):
    from transit_data_pipeline_spark.gtfs import ml
    from transit_data_pipeline_spark.gtfs.features import train_test_views

    _, feats = feature_frames
    train_df, test_df = train_test_views(feats)
    model = ml.train(train_df, max_depth=4, max_iter=10)
    metrics = ml.evaluate(model, test_df)
    assert set(metrics) == {"rmse", "mae", "r2", "acc_5min", "acc_10min"}
    assert metrics["mae"] > 0
    assert 0 <= metrics["acc_10min"] <= 1

    preds = ml.with_risk_level(model.transform(test_df.na.fill(0, subset=list(ml.NUMERIC))))
    levels = {r["risk_level"] for r in preds.select("risk_level").distinct().collect()}
    assert levels <= {"Low", "Medium", "High", "Severe"}

    best, worst = ml.best_worst_predictions(preds)
    b = best.agg(F.max("abs_error")).first()[0]
    w = worst.agg(F.min("abs_error")).first()[0]
    assert b <= w


def test_model_roundtrip(feature_frames, tmp_path, spark):
    from pyspark.ml import PipelineModel

    from transit_data_pipeline_spark.gtfs import ml
    from transit_data_pipeline_spark.gtfs.features import train_test_views

    _, feats = feature_frames
    train_df, test_df = train_test_views(feats)
    model = ml.train(train_df, max_depth=3, max_iter=5)
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    test_in = test_df.na.fill(0, subset=list(ml.NUMERIC))
    a = model.transform(test_in).agg(F.sum("prediction")).first()[0]
    b = loaded.transform(test_in).agg(F.sum("prediction")).first()[0]
    assert a == b


def test_future_prediction(spark, feature_frames, tmp_path):
    """Future-mode end-to-end (ref `predict_delays.py:196-376`): frame
    built from calendar day-columns, model scores it unmodified, risk
    levels attach, alert gate and metrics sink work."""
    from transit_data_pipeline_spark.gtfs import ml, predict

    operational, features = feature_frames
    train_df, _ = __import__(
        "transit_data_pipeline_spark.gtfs.features", fromlist=["train_test_views"]
    ).train_test_views(features)
    model = ml.train(train_df, max_iter=3, max_depth=3)

    # a date inside the synth calendar horizon (synth starts 2025-06-02)
    frame = predict.build_future_frame(operational, "2025-06-09", max_trips=20)
    n = frame.count()
    assert n > 0
    assert set(ml.NUMERIC) <= set(frame.columns)
    assert frame.select("weather_condition").distinct().first()[0] == "clear"

    preds = predict.predict_for_date(model, frame, k=50)
    rows = preds.collect()
    assert 0 < len(rows) <= 50
    assert {r.risk_level for r in rows} <= {"Low", "Medium", "High", "Severe"}
    # worst-first ordering
    vals = [r.prediction for r in rows]
    assert vals == sorted(vals, reverse=True)

    alert = predict.high_risk_alert(preds)
    assert set(alert) == {"n_high_risk_trips", "alert"}

    sink = str(tmp_path / "model_metrics")
    predict.save_model_metrics(
        spark, {"rmse": 1.0, "mae": 0.5}, "v1", "2025-06-08T00:00:00", sink
    )
    back = spark.read.parquet(sink)
    assert back.count() == 1 and back.first().model_version == "v1"


def test_monitor_predictions(spark):
    """Accuracy floor gate (ref `ml_pipeline_dag.py:386-388`)."""
    from transit_data_pipeline_spark.gtfs.predict import monitor_predictions

    preds = spark.createDataFrame(
        [("t1", "s1", "2025-06-09", 5.0), ("t2", "s1", "2025-06-09", 30.0)],
        "trip_id string, stop_id string, event_date string, prediction double",
    )
    actuals = spark.createDataFrame(
        [("t1", "s1", "2025-06-09", 7.0), ("t2", "s1", "2025-06-09", 2.0)],
        "trip_id string, stop_id string, event_date string, delay_minutes double",
    )
    out = monitor_predictions(preds, actuals)
    assert out["n_matched"] == 2
    assert out["acc_10min"] == 0.5 and out["alert"] is True

    ok = monitor_predictions(preds.limit(1), actuals)
    assert ok["n_matched"] == 1 and ok["alert"] is False


def test_retrain_weekly(spark, feature_frames):
    """Weekly retrain: recency window + deterministic cap, model fits."""
    from transit_data_pipeline_spark.gtfs.predict import retrain_weekly

    _, features = feature_frames
    as_of = features.agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).date_format(
            __import__("pyspark.sql.functions", fromlist=["F"]).max("event_date"),
            "yyyy-MM-dd",
        )
    ).first()[0]
    model = retrain_weekly(features, as_of, sample_cap=500, max_iter=2, max_depth=2)
    preds = model.transform(
        features.na.fill(0).limit(20)
    )
    assert preds.filter(preds.prediction.isNotNull()).count() == 20


def test_daily_pipeline_chain(spark, feature_frames, tmp_path):
    """The composed daily DAG chain (ref `ml_pipeline_dag.py:522`):
    quality >> features >> predict >> monitor >> alert >> cleanup in
    one call, from a PERSISTED model artifact, idempotent on re-run."""
    from transit_data_pipeline_spark.gtfs import ml, pipeline
    from transit_data_pipeline_spark.gtfs.features import train_test_views

    operational, features = feature_frames
    train_df, _ = train_test_views(features)
    model = ml.train(train_df, max_depth=3, max_iter=3)
    model_path = str(tmp_path / "artifact")
    ml.save_model(model, model_path, version="v2", trained_at="2025-06-29T00:00:00")
    loaded, meta = ml.load_model(model_path)
    assert meta["model_version"] == "v2"
    assert meta["numeric"] == list(ml.NUMERIC)

    as_of = operational["delay_events"].agg(
        F.date_format(F.max(F.to_date("actual_arrival")), "yyyy-MM-dd")
    ).first()[0]
    out_dir = str(tmp_path / "stores")
    result = pipeline.run_daily_pipeline(
        spark, operational, as_of, model_path, out_dir, max_trips=20
    )
    assert result["status"] == "ok"
    assert all(result["quality"].values())
    assert result["predictions"]["model_version"] == "v2"
    assert set(result["monitor"]) == {"n_matched", "mae", "acc_10min", "alert"}
    assert set(result["alert"]) == {"n_high_risk_trips", "alert"}

    preds = spark.read.parquet(result["predictions"]["store"])
    n_first = preds.count()
    assert n_first > 0

    # Idempotent re-run: same date overwrites its partition, not appends.
    result2 = pipeline.run_daily_pipeline(
        spark, operational, as_of, model_path, out_dir, max_trips=20
    )
    assert result2["status"] == "ok"
    assert spark.read.parquet(result["predictions"]["store"]).count() == n_first

    # Retention: a partition older than the window is dropped.
    import os

    old_dir = os.path.join(result["predictions"]["store"], "prediction_date=2024-01-01")
    # re-read: the re-run overwrote the partition, `preds` has a stale file list
    one = (
        spark.read.parquet(result["predictions"]["store"])
        .drop("prediction_date")
        .limit(1)
        .collect()
    )
    spark.createDataFrame(one).write.mode("overwrite").parquet(old_dir)
    swept = pipeline.cleanup_old_predictions(
        spark, result["predictions"]["store"], as_of, retention_days=30
    )
    assert swept["n_partitions_dropped"] == 1
    assert swept["cutoff"] == spark.range(1).select(
        F.date_sub(F.lit(as_of).cast("date"), 30).cast("string")
    ).first()[0]
    assert not os.path.isdir(old_dir)


def test_train_cv_literal_grid(feature_frames):
    """The reference's 4-cell grid (train_delay_model.py:292-309) as
    CrossValidator: every cell is scored, the best cell's params are
    reported, and the returned model is a fitted pipeline (shrunk
    depths/iters keep the test fast; the cell COUNT is the contract)."""
    from transit_data_pipeline_spark.gtfs import ml
    from transit_data_pipeline_spark.gtfs.features import train_test_views

    _, feats = feature_frames
    train_df, test_df = train_test_views(feats)
    model, summary = ml.train_cv(
        train_df, max_depths=(2, 3), min_instances=(1, 3),
        num_folds=2, max_iter=3,
    )
    assert len(summary["cells"]) == 4
    assert all(c["cv_rmse"] > 0 for c in summary["cells"])
    assert summary["best_cv_rmse"] == min(
        c["cv_rmse"] for c in summary["cells"]
    )
    bp = summary["best_params"]
    assert bp["max_depth"] in (2, 3) and bp["min_instances_per_node"] in (1, 3)
    metrics = ml.evaluate(model, test_df)
    assert metrics["rmse"] > 0


# ---- one-pass evaluate vs the evaluator path -------------------------


def _five_pass(preds) -> dict:
    """The evaluator path: three RegressionEvaluators and two
    tolerance_accuracy calls, one Spark action each."""
    from pyspark.ml.evaluation import RegressionEvaluator

    from transit_data_pipeline_spark.gtfs import ml

    out = {
        m: RegressionEvaluator(
            labelCol=ml.LABEL, predictionCol="prediction", metricName=m
        ).evaluate(preds)
        for m in ("rmse", "mae", "r2")
    }
    out["acc_5min"] = ml.tolerance_accuracy(preds, 5.0)
    out["acc_10min"] = ml.tolerance_accuracy(preds, 10.0)
    return out


def _same(a: float, b: float, rel: float = 1e-9) -> bool:
    if math.isnan(a) or math.isinf(a):
        return math.isnan(b) if math.isnan(a) else a == b
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


def _assert_parity(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for k in want:
        assert _same(got[k], want[k]), (k, got[k], want[k])


@pytest.fixture(scope="module")
def scored(feature_frames):
    from transit_data_pipeline_spark.gtfs import ml
    from transit_data_pipeline_spark.gtfs.features import train_test_views

    _, feats = feature_frames
    train_df, test_df = train_test_views(feats)
    return ml.train(train_df, max_depth=3, max_iter=3), test_df


def _preds(model, test_df):
    from transit_data_pipeline_spark.gtfs import ml

    return model.transform(test_df.na.fill(0, subset=list(ml.NUMERIC)))


def test_evaluate_matches_evaluator_path(scored):
    from transit_data_pipeline_spark.gtfs import ml

    model, test_df = scored
    _assert_parity(ml.evaluate(model, test_df), _five_pass(_preds(model, test_df)))


def test_evaluate_constant_label(scored):
    """Zero label variance: r2 = 1 − Σerr²/0 is −inf for a model that
    misses, NaN for an exact predictor — never a ZeroDivisionError."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import SQLTransformer

    from transit_data_pipeline_spark.gtfs import ml

    model, test_df = scored
    const = test_df.withColumn(ml.LABEL, F.lit(7))
    got = ml.evaluate(model, const)
    _assert_parity(got, _five_pass(_preds(model, const)))
    assert got["r2"] == float("-inf")

    exact = PipelineModel(
        [SQLTransformer(statement=f"SELECT *, CAST({ml.LABEL} AS DOUBLE) AS prediction FROM __THIS__")]
    )
    got = ml.evaluate(exact, const)
    _assert_parity(got, _five_pass(_preds(exact, const)))
    assert math.isnan(got["r2"]) and got["rmse"] == 0.0 and got["acc_5min"] == 1.0


def test_evaluate_empty_split_raises_like_evaluator(scored):
    from pyspark.errors import IllegalArgumentException

    from transit_data_pipeline_spark.gtfs import ml

    model, test_df = scored
    empty = test_df.limit(0)
    with pytest.raises(IllegalArgumentException) as want:
        _five_pass(_preds(model, empty))
    with pytest.raises(IllegalArgumentException) as got:
        ml.evaluate(model, empty)
    assert str(got.value) == str(want.value)


# ---- the trailing means of the feature table ----------------------------


@pytest.fixture(scope="module")
def edge_case_features(spark, feature_frames):
    """feature_frames' operational tables plus the cases the trailing
    means must get right: NULL weather_condition and day_of_week keys, a
    route whose events all lie outside the 7-day window, and a trip that
    visits one stop twice. Returns (operational, as_of, features)."""
    from datetime import datetime, time, timedelta

    from transit_data_pipeline_spark.gtfs import features

    op, _ = feature_frames
    ev = op["delay_events"]
    as_of, max_id = ev.agg(F.max(F.to_date("actual_arrival")), F.max("id")).first()
    stop_a, stop_b = [r.stop_id for r in op["stops"].select("stop_id").limit(2).collect()]

    def rows(like, data, cols):
        frame = spark.createDataFrame(data, cols)
        return like.unionByName(
            frame.select(*[F.col(c).cast(like.schema[c].dataType) for c in cols]),
            allowMissingColumns=True,
        )

    days = [as_of - timedelta(days=d) for d in (10, 12, 15, 20)]
    old_events = [
        (max_id + i + 1, "T_OLD", stop, 8 * 3600, datetime.combine(day, time(8, 5)),
         delay, "clear", day.weekday(), False)
        for i, (day, stop, delay) in enumerate(zip(days, [stop_a, stop_b] * 2, (5, 7, 9, 11)))
    ]
    ev = ev.withColumn(
        "weather_condition", F.when(F.col("id") % 7 != 0, F.col("weather_condition"))
    ).withColumn("day_of_week", F.when(F.col("id") % 5 != 0, F.col("day_of_week")))
    edge = dict(
        op,
        routes=rows(op["routes"], [("R_OLD", 3)], ["route_id", "route_type"]),
        trips=rows(
            op["trips"],
            [("T_OLD", "R_OLD", "WK", 0)],
            ["trip_id", "route_id", "service_id", "direction_id"],
        ),
        stop_times=rows(
            op["stop_times"],
            [("T_OLD", stop_a, 1), ("T_OLD", stop_b, 2), ("T_OLD", stop_a, 3)],
            ["trip_id", "stop_id", "stop_sequence"],
        ),
        delay_events=rows(
            ev,
            old_events,
            ["id", "trip_id", "stop_id", "scheduled_arrival", "actual_arrival",
             "delay_minutes", "weather_condition", "day_of_week", "is_holiday"],
        ),
    )
    return edge, as_of, features.build_features(edge, as_of.isoformat())


def _reference_means(op, as_of) -> dict[int, dict[str, float]]:
    """event id -> trailing means, in pandas from the operational frames:
    per key set and window, the mean delay of the window's events by
    key; a NULL key or a key absent from the window gives 0.0."""
    import pandas as pd

    from transit_data_pipeline_spark.gtfs.features import TRAILING_MEANS

    ev = (
        op["delay_events"]
        .join(op["trips"].select("trip_id", "route_id"), "trip_id")
        .select(
            "id", "trip_id", "route_id", "stop_id", "scheduled_arrival", "delay_minutes",
            "weather_condition", "day_of_week", F.to_date("actual_arrival").alias("day"),
        )
        .toPandas()
    )
    ev["hour_of_day"] = ev["scheduled_arrival"] // 3600 % 24
    ev["age"] = (pd.Timestamp(as_of) - pd.to_datetime(ev["day"])).dt.days
    out: dict[int, dict[str, float]] = {int(i): {} for i in ev["id"]}
    for keys, cols in TRAILING_MEANS.items():
        for days, name in cols.items():
            window = ev[(ev["age"] >= 0) & (ev["age"] <= days)]
            means = window.groupby(list(keys))["delay_minutes"].mean()
            by_key = {k if isinstance(k, tuple) else (k,): v for k, v in means.items()}
            for row in ev[["id", *keys]].itertuples(index=False):
                key = tuple(row[1:])
                null = any(pd.isna(k) for k in key)
                out[int(row[0])][name] = 0.0 if null else float(by_key.get(key, 0.0))
    return out


def test_trailing_means_match_pandas_reference(edge_case_features):
    from transit_data_pipeline_spark.gtfs.features import MEAN_COLUMNS

    op, as_of, feats = edge_case_features
    want = _reference_means(op, as_of)
    got = feats.select("feature_id", "route_id", "stop_id", "weather_condition",
                       "day_of_week", *MEAN_COLUMNS).collect()
    assert len(got) == len(want) + 2  # T_OLD's two events at stop_a give two rows each
    for r in got:
        assert {c: r[c] for c in MEAN_COLUMNS} == want[r.feature_id], r.feature_id

    null_weather = [r for r in got if r.weather_condition is None]
    null_dow = [r for r in got if r.day_of_week is None]
    assert null_weather and all(r.avg_delay_same_weather_30d == 0.0 for r in null_weather)
    assert null_dow and all(
        r.avg_delay_same_dow_30d == r.avg_delay_route_dow_30d == 0.0 for r in null_dow
    )
    old = [r for r in got if r.route_id == "R_OLD"]
    assert len(old) == 6
    assert all(r.avg_delay_same_route_7d == 0.0 and r.avg_delay_same_route_30d > 0 for r in old)


def test_feature_table_fit_ignores_its_layout(feature_frames):
    """The feature table pinned at 1, 4 and 7 partitions gives the same
    split and the same model: GBT subsamples with a per-partition seed,
    so the fit must not see the upstream layout."""
    from transit_data_pipeline_spark.gtfs import ml
    from transit_data_pipeline_spark.gtfs.features import train_test_views
    from transit_data_pipeline_spark.operators._util import _pin

    _, feats = feature_frames
    preds = []
    for n in (1, 4, 7):
        pinned = _pin(feats.repartition(n))
        assert pinned.rdd.getNumPartitions() == n
        train_df, test_df = train_test_views(pinned)
        model = ml.train(train_df, max_iter=3, max_depth=4)
        preds.append(sorted(model.transform(test_df).select("feature_id", "prediction").collect()))
    assert preds[0] and preds[0] == preds[1] == preds[2]
