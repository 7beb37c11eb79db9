"""``gtfs_pipeline``: the paper's pipeline on a seeded GTFS network.

Timed: the nightly model refresh, GTFS CSV -> operational tables -> star
warehouse -> ML feature table -> model, evaluated and saved. One cold
refresh warms the JVM up first (part of the set-up); then warm refreshes
repeat for the run's seconds, each saving its own model.

Traced runs then add, untimed for the end-to-end metrics: the daily
catch-up of the network's last day (its delay events land in a watched
directory, the two incremental streams drain them with ``availableNow``,
``run_daily_pipeline`` runs for the date and every dashboard widget is
called), then the persisted warehouse with its materialized views and the
9 analysis queries. The last day is held out of the nightly CSV, so the
daily chain sees it only through the landed file.
"""

from __future__ import annotations

import os
import time
from datetime import date, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from checks import Checks
from layers import timed_passes

#: Network size (routes x trips per route, stops, days).
NETWORK = dict(n_routes=16, trips_per_route=10, n_stops=160, n_days=28)
#: Gradient-boosted model size for the nightly train (the program's
#: default is 40 trees of depth 6; the run budget is in LAYERS.md).
MODEL = dict(max_iter=3, max_depth=4)


def setup(work: str, seed: int) -> tuple[str, dict]:
    """Generate the network as CSV; returns its directory and frames."""
    from transit_data_pipeline_spark.gtfs import synth

    csv_dir = os.path.join(work, "csv")
    return csv_dir, synth.generate(csv_dir, seed=seed, **NETWORK)


def _hold_out(csv_dir: str, frames: dict):
    """Cut the last service day out of the nightly delay-events CSV and
    return its events. Events of trips running past midnight stay with it."""
    ev = frames["delay_events"]
    dates = ev["actual_arrival"].dt.normalize()
    last = dates.max() - timedelta(days=1)
    ev[dates < last].to_csv(os.path.join(csv_dir, "delay_events.csv"), index=False)
    return ev[dates >= last]


def _expected_audits(frames: dict) -> dict:
    """The four post-load audit counts, computed from the generated frames."""
    stops, trips, st = frames["stops"], frames["trips"], frames["stop_times"]
    arrival_ok = st["arrival_time"].astype(str).str.fullmatch(r"\d+:[0-5]\d:[0-5]\d")
    return {
        "stops_null_coordinates": int((stops["stop_lat"].isna() | stops["stop_lon"].isna()).sum()),
        "trips_orphan_route": int((~trips["route_id"].isin(frames["routes"]["route_id"])).sum()),
        "stop_times_invalid_arrival": int((~arrival_ok.fillna(False)).sum()),
        "calendar_services": len(frames["calendar"]),
    }


def _refresh(spark, layers, csv_dir: str, as_of: str, model_dir: str) -> dict:
    """The nightly model refresh, GTFS CSV to saved model; returns what
    the checks and the traced probes read."""
    from transit_data_pipeline_spark.gtfs import features, ingest, ml, warehouse

    with layers.span("gtfs.ingest", "read_staging", "build"):
        staging = ingest.read_staging(spark, csv_dir)
    with layers.span("gtfs.ingest", "build_operational", "build"):
        op = ingest.build_operational(staging)
    with layers.span("gtfs.ingest", "quality_audits"):
        audits = {r["check"]: r["n"] for r in ingest.quality_audits(staging).collect()}
    with layers.span("gtfs.warehouse", "build_warehouse", "build"):
        wh = warehouse.build_warehouse(op)
    with layers.span("gtfs.features", "build_features", "build"):
        feats = features.build_features(op, as_of)
    with layers.span("gtfs.features", "train_test_views", "build"):
        train_df, test_df = features.train_test_views(feats)
    with layers.span("gtfs.ml", "train"):
        model = ml.train(train_df, **MODEL)
    with layers.span("gtfs.ml", "evaluate"):
        scores = ml.evaluate(model, test_df)
    with layers.span("gtfs.ml", "save_model"):
        ml.save_model(model, model_dir, trained_at=as_of)
    return dict(staging=staging, op=op, audits=audits, wh=wh, scores=scores, model_dir=model_dir)


def run(spark, layers, work: str, inputs: tuple[str, dict], trace: bool, seconds: float) -> dict:
    t0 = time.perf_counter()
    csv_dir, frames = inputs
    held = _hold_out(csv_dir, frames)
    as_of = str(held["actual_arrival"].min().date() - timedelta(days=1))
    checks = Checks()

    def refresh(name: str) -> dict:
        return _refresh(spark, layers, csv_dir, as_of, os.path.join(work, name))

    # ---- warm-up: one cold refresh, untimed for suite_s -------------
    t_warm = time.perf_counter()
    with layers.muted():
        refresh("model-warmup")
    warmup_s = time.perf_counter() - t_warm

    # ---- the timed passes: warm refreshes for ``seconds`` ------------
    passes, last = timed_passes(lambda i: refresh(f"model-{i}"), seconds, once=trace)
    staging, op, wh, scores = last["staging"], last["op"], last["wh"], last["scores"]

    expected = _expected_audits(frames)
    checks.expect(last["audits"] == expected, f"quality audits {last['audits']} != {expected}")
    checks.expect(wh["dim_time"].count() == 96, "dim_time rows != 96")
    checks.expect(wh["dim_weather"].count() == 8, "dim_weather rows != 8")
    n_fact = wh["fact_delay_events"].count()
    checks.expect(
        0 < n_fact <= op["delay_events"].count(), f"fact rows {n_fact} vs delay events"
    )
    checks.expect(all(v == v for v in scores.values()), f"NaN model score {scores}")

    extra = {"delay_events": len(frames["delay_events"])}
    if trace:  # after the timed pass, so that it runs as in untraced runs
        extra["gtfs.daily_run_s"] = _daily_probe(
            spark, layers, work, staging, wh, held, last["model_dir"], checks
        )
        _warehouse_probe(spark, layers, wh, os.path.join(work, "warehouse"), checks)
    extra["wall_s"] = time.perf_counter() - t0
    return {
        "warmup_s": warmup_s,
        "passes_s": passes,
        "checks": checks,
        "extra": extra,
    }


def _daily_probe(spark, layers, work, staging, wh, held, model_dir, checks) -> float:
    """The daily catch-up of the held-out day (traced runs only; see
    LAYERS.md); returns the wall of its drain plus daily run."""
    from transit_data_pipeline_spark.gtfs import ingest, pipeline
    from transit_data_pipeline_spark.gtfs import schemas as S

    watch = os.path.join(work, "landing")
    os.makedirs(watch)
    run_date = str(held["actual_arrival"].min().date())
    pq.write_table(
        pa.Table.from_pandas(held, schema=_arrow(S.DELAY_EVENTS), preserve_index=False),
        os.path.join(watch, f"delay_events_{run_date}.parquet"),
    )
    t_day = time.perf_counter()
    drained = _drain(spark, layers, watch, work)
    with layers.span("gtfs.pipeline", "run_daily_pipeline"):
        landed = spark.read.schema(S.DELAY_EVENTS).parquet(watch)
        op_day = ingest.build_operational(
            dict(staging, delay_events=staging["delay_events"].unionByName(landed))
        )
        result = pipeline.run_daily_pipeline(
            spark, op_day, run_date, model_dir, os.path.join(work, "stores")
        )
    daily_s = time.perf_counter() - t_day

    checks.expect(result.get("status") == "ok", f"{run_date}: daily status {result.get('status')}")
    checks.expect(
        (result.get("monitor") or {}).get("n_matched", 0) > 0, f"{run_date}: monitor matched nothing"
    )
    checks.expect(drained["feature_rows"] == len(held), f"{run_date}: sink rows {drained} vs {len(held)} landed")
    redrained = _drain(spark, layers, watch, work, layer="harness")
    checks.expect(
        redrained["feature_rows"] == len(held) and redrained["new_rows"] == 0,
        f"{run_date}: re-drain changed the sink {redrained}",
    )
    _dashboard(spark, layers, op_day, wh, run_date, result, checks)
    return daily_s


def _warehouse_probe(spark, layers, wh, wh_dir: str, checks) -> None:
    """Persist the warehouse with its materialized views, then run the 9
    analysis queries over it (traced runs only; see LAYERS.md)."""
    from pyspark.sql import functions as F

    from transit_data_pipeline_spark.gtfs import analysis, warehouse

    with layers.span("gtfs.warehouse", "persist_warehouse"):
        warehouse.persist_warehouse(wh, wh_dir)
    with layers.span("gtfs.warehouse", "refresh_materialized_views"):
        warehouse.refresh_materialized_views(wh, wh_dir)
    n_fact = spark.read.parquet(os.path.join(wh_dir, "fact_delay_events")).count()
    checks.expect(n_fact == wh["fact_delay_events"].count(), f"persisted fact rows {n_fact}")
    answers = {}
    for name, fn in analysis.ALL_QUERIES.items():
        with layers.span("gtfs.analysis", name):
            answers[name] = fn(wh).collect()
    with layers.span("gtfs.analysis", "q9_recent_vs_historical"):
        as_of_key = wh["fact_delay_events"].agg(F.max("date_key")).first()[0]
        answers["q9"] = analysis.q9_recent_vs_historical(wh, as_of_key).collect()
    empty = [name for name, rows in answers.items() if not rows]
    checks.expect(not empty, f"empty analysis answers: {empty}")


def _arrow(schema) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields])


def _drain(spark, layers, watch: str, work: str, layer="streaming.incremental") -> dict:
    """Drain the watched directory through both incremental streams; a
    drain made as a check runs under another ``layer``."""
    from transit_data_pipeline_spark.streaming import incremental as inc

    sinks = os.path.join(work, "sinks")
    before = _rows(spark, os.path.join(sinks, "features"))
    with layers.span(layer, "drain"):
        events = inc.read_event_stream(spark, watch)
        queries = [
            inc.start_hourly_rollup(
                events, os.path.join(sinks, "hourly"), os.path.join(sinks, "ckpt_hourly")
            ),
            inc.start_feature_append(
                events, os.path.join(sinks, "features"), os.path.join(sinks, "ckpt_features")
            ),
        ]
        for q in queries:
            layers.alias(str(q.runId), layer)
            q.awaitTermination()
    if layer == "streaming.incremental":
        for q in queries:
            layers.progress.extend(q.recentProgress)
    after = _rows(spark, os.path.join(sinks, "features"))
    return {"feature_rows": after, "new_rows": after - before}


def _rows(spark, path: str) -> int:
    if not os.path.isdir(path) or not any(e.startswith("event_date=") for e in os.listdir(path)):
        return 0
    return spark.read.parquet(path).count()


def _dashboard(spark, layers, op, wh, run_date, result, checks) -> None:
    """Call every widget once over the week ending at ``run_date``."""
    from pyspark.sql import functions as F

    from transit_data_pipeline_spark.gtfs import dashboard as dash

    lo = str(date.fromisoformat(run_date) - timedelta(days=6))
    ev = op["delay_events"]
    preds = spark.read.parquet(result["predictions"]["store"]).withColumn(
        "created_at", F.col("prediction_date")  # the store's write date
    )
    widgets = {
        "route_options": lambda: dash.route_options(wh["dim_route"]),
        "kpi_metrics": lambda: dash.kpi_metrics(ev, lo, run_date),
        "daily_trend": lambda: dash.daily_trend(ev, lo, run_date),
        "top_routes": lambda: dash.top_routes(ev, op["trips"], lo, run_date),
        "hourly_pattern": lambda: dash.hourly_pattern(ev, lo, run_date),
        "weather_impact": lambda: dash.weather_impact(ev, lo, run_date),
        "recent_predictions": lambda: dash.recent_predictions(preds),
    }
    kpi = None
    for name, widget in widgets.items():
        with layers.span("gtfs.dashboard", name):
            rows = widget().collect()
        if name == "kpi_metrics":
            kpi = rows[0]["total_delays"]
    in_range = ev.filter(F.to_date("actual_arrival").between(F.lit(lo), F.lit(run_date))).count()
    checks.expect(kpi == in_range, f"{run_date}: KPI total {kpi} vs filtered count {in_range}")
