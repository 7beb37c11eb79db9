"""The reference's DAILY DAG chain as one composed callable.

Reference: `airflow/dags/ml_pipeline_dag.py:450-522` wires
``data_quality_check >> update_ml_features >> generate_predictions >>
monitor_predictions >> send_high_risk_alert >> cleanup_old_predictions``
as six Airflow tasks over PostgreSQL. Here the chain is one function
over Spark frames + parquet stores: each stage returns its summary
into one result dict, a failed quality gate aborts the chain (as the
upstream-task failure does in Airflow), and re-running a date is
idempotent (per-date partition overwrite replaces the reference's
ON CONFLICT upserts).

Scale notes: every stage is a DataFrame plan (no driver materialization
of data rows — only scalar gate/monitor summaries come back); the
prediction store is partitioned by prediction_date so both the daily
overwrite and the retention sweep prune to the touched partitions.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.incremental import quality_gates
from . import features as feat
from . import ml
from . import predict as pred

#: Store layout under the pipeline's out_dir.
FEATURES_STORE = "trip_features"
PREDICTIONS_STORE = "daily_predictions"


def _store_write(df: DataFrame, root: str, partition_col: str, value: str) -> None:
    """Idempotent per-date partition overwrite (hive-style layout)."""
    df.drop(partition_col).write.mode("overwrite").parquet(
        os.path.join(root, f"{partition_col}={value}")
    )


def _store_read(spark: SparkSession, root: str) -> DataFrame | None:
    if not os.path.isdir(root) or not any(
        e.startswith(("prediction_date=", "as_of_date=")) for e in os.listdir(root)
    ):
        return None
    return spark.read.option("basePath", root).parquet(root)


def cleanup_old_predictions(
    spark: SparkSession, store: str, run_date: str, retention_days: int = 30
) -> dict:
    """Delete-by-age retention on the prediction store (ref the DAG's
    cleanup task SQL: DELETE WHERE created_at < CURRENT_DATE - 30 days,
    `ml_pipeline_dag.py:490-519`). With a date-partitioned layout the
    delete is a partition drop — no data rewrite, exactly the operation
    a 100 TB store needs."""
    if not os.path.isdir(store):
        return {"n_partitions_dropped": 0}
    cutoff = str(date.fromisoformat(run_date) - timedelta(days=retention_days))
    dropped = 0
    for entry in sorted(os.listdir(store)):
        if not entry.startswith("prediction_date="):
            continue
        if entry.split("=", 1)[1] < cutoff:
            shutil.rmtree(os.path.join(store, entry))
            dropped += 1
    return {"n_partitions_dropped": dropped, "cutoff": cutoff}


def run_daily_pipeline(
    spark: SparkSession,
    operational: dict[str, DataFrame],
    run_date: str,
    model_path: str,
    out_dir: str,
    max_trips: int = 100,
    accuracy_floor: float = 0.75,
    retention_days: int = 30,
) -> dict:
    """Run the whole daily chain for ``run_date``; returns the per-stage
    summary dict (the Airflow XCom equivalents)."""
    result: dict = {"run_date": run_date}

    # 1. data_quality_check (ref `ml_pipeline_dag.py:45-96`)
    features = feat.build_features(operational, run_date)
    gates = quality_gates(features, run_date)
    result["quality"] = gates
    if not all(gates.values()):
        result["status"] = "aborted:data_quality"
        return result

    # 2. update_ml_features (ref `:99-297`): persist the as-of feature
    # frame under its date partition (idempotent re-run).
    feat_store = os.path.join(out_dir, FEATURES_STORE)
    _store_write(
        features.withColumn("as_of_date", F.lit(run_date)),
        feat_store,
        "as_of_date",
        run_date,
    )
    result["features"] = {"store": feat_store}

    # 3. generate_predictions (ref `:300-328`) from the PERSISTED model
    # artifact, as the reference's predict task loads its pickle.
    model, meta = ml.load_model(model_path)
    frame = pred.build_future_frame(operational, run_date, max_trips=max_trips)
    preds = pred.predict_for_date(model, frame)
    pred_store = os.path.join(out_dir, PREDICTIONS_STORE)
    _store_write(
        preds.withColumn("prediction_date", F.lit(run_date)),
        pred_store,
        "prediction_date",
        run_date,
    )
    result["predictions"] = {
        "store": pred_store,
        "model_version": meta.get("model_version"),
    }

    # 4. monitor_predictions (ref `:331-393`): stored predictions vs
    # observed delays, 3-key join, MAE + tolerance accuracy.
    stored = _store_read(spark, pred_store)
    actuals = operational["delay_events"].select(
        "trip_id",
        "stop_id",
        F.to_date("actual_arrival").cast("string").alias("event_date"),
        "delay_minutes",
    )
    monitored = pred.monitor_predictions(
        # partition discovery types prediction_date as DATE — align
        # with the actuals' string key explicitly
        stored.withColumn(
            "event_date", F.col("prediction_date").cast("string")
        ).drop("prediction_date"),
        actuals,
        accuracy_floor=accuracy_floor,
    )
    result["monitor"] = monitored

    # 5. send_high_risk_alert (ref `:396-449`)
    result["alert"] = pred.high_risk_alert(preds)

    # 6. cleanup_old_predictions (ref `:490-519`)
    result["cleanup"] = cleanup_old_predictions(
        spark, pred_store, run_date, retention_days
    )

    result["status"] = "ok"
    return result
