"""Structured Streaming incremental pipeline tests: file-source
stream → watermarked hourly agg → sinks; checkpoint-driven
incrementality (the high-water mark replacement)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def event_batches(spark, tmp_path_factory):
    """Delay events from the seeded generator, split into two 'days'
    of parquet files to simulate incremental arrival."""
    from transit_data_pipeline_spark.gtfs import schemas, synth

    root = tmp_path_factory.mktemp("stream")
    csv_dir = str(root / "csv")
    frames = synth.generate(csv_dir, seed=42)
    ev = frames["delay_events"]
    cut = ev["actual_arrival"].dt.date.astype(str).min()
    first = ev[ev["actual_arrival"].dt.date.astype(str) == cut]
    rest = ev[ev["actual_arrival"].dt.date.astype(str) != cut]

    events_dir = str(root / "events")
    os.makedirs(events_dir)
    sdf1 = spark.createDataFrame(first, schema=schemas.DELAY_EVENTS)
    sdf2 = spark.createDataFrame(rest, schema=schemas.DELAY_EVENTS)
    return root, events_dir, sdf1, sdf2


def test_incremental_feature_append(spark, event_batches):
    from transit_data_pipeline_spark.streaming import incremental as inc

    root, events_dir, sdf1, sdf2 = event_batches
    sink = str(root / "feat_sink")
    ckpt = str(root / "feat_ckpt")

    # batch 1 arrives
    sdf1.write.mode("append").parquet(events_dir)
    stream = inc.read_event_stream(spark, events_dir)
    assert stream.isStreaming
    q = inc.start_feature_append(stream, sink, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    assert n1 == sdf1.count()

    # batch 2 arrives; checkpoint means ONLY new files are processed
    sdf2.write.mode("append").parquet(events_dir)
    q = inc.start_feature_append(inc.read_event_stream(spark, events_dir), sink, ckpt)
    q.awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n2 == sdf1.count() + sdf2.count()  # no reprocessing duplicates

    # partitioned layout by event_date
    parts = [p for p in os.listdir(sink) if p.startswith("event_date=")]
    assert len(parts) >= 1


def test_hourly_rollup_watermark(spark, event_batches):
    from transit_data_pipeline_spark.streaming import incremental as inc

    root, events_dir, sdf1, sdf2 = event_batches
    sink = str(root / "agg_sink")
    ckpt = str(root / "agg_ckpt")
    q = inc.start_hourly_rollup(inc.read_event_stream(spark, events_dir), sink, ckpt)
    q.awaitTermination(180)
    agg = spark.read.parquet(sink)
    assert agg.count() > 0
    # window invariants: 1h tumbling, counts positive
    bad = agg.filter(
        (F.unix_timestamp("window_end") - F.unix_timestamp("window_start") != 3600)
        | (F.col("n_delays") <= 0)
    ).count()
    assert bad == 0


def test_quality_gates(spark, event_batches):
    from transit_data_pipeline_spark.streaming import incremental as inc

    root, _, sdf1, sdf2 = event_batches
    feats = spark.read.parquet(str(root / "feat_sink"))
    as_of = feats.agg(F.date_format(F.max("event_date"), "yyyy-MM-dd")).first()[0]
    gates = inc.quality_gates(feats, as_of)
    assert gates == {
        "has_recent_data": True,
        "no_null_critical": True,
        "not_stale": True,
    }
    # stale as_of trips the gate
    gates_stale = inc.quality_gates(feats, "2030-01-01")
    assert gates_stale["not_stale"] is False


def test_session_window_closes_at_exact_30min_gap(spark, tmp_path):
    """Pin the boundary the streaming_session_window oracle encodes: an
    event arriving EXACTLY 30 minutes after the previous one MERGES
    into the session (session_window treats the window as closed-end
    for merging — adjacent windows coalesce), so only a gap STRICTLY
    greater than 30 min starts a new session. This matches the batch
    LAG operator's `>` test, and the oracle must use `>` too."""
    import pyspark.sql.functions as F

    base = 1_700_000_000_000_000  # µs
    rows = [
        (1, base),
        (1, base + 30 * 60 * 1_000_000),  # exactly +30min -> merges
        (1, base + 59 * 60 * 1_000_000),  # +29min after prev -> merges
        (1, base + 95 * 60 * 1_000_000),  # +36min after prev -> new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long").select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("event_time")
    )
    out = (
        df.groupBy("user_id", F.session_window("event_time", "30 minutes"))
        .count()
        .collect()
    )
    assert sorted(r["count"] for r in out) == [1, 3]


def test_quality_gates_empty_table(spark):
    """No rows: no recent data, nothing NULL, and stale."""
    from transit_data_pipeline_spark.streaming import incremental as inc

    empty = spark.createDataFrame([], "event_date date, delay_minutes int, trip_id string")
    assert inc.quality_gates(empty, "2024-01-10") == {
        "has_recent_data": False,
        "no_null_critical": True,
        "not_stale": False,
    }
