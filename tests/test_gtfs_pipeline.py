"""End-to-end GTFS domain pipeline test: seeded fixtures → CSV ingest
→ operational → star warehouse → analysis queries, asserting the
reference's own operational invariants (SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    from transit_data_pipeline_spark.gtfs import synth

    out = str(tmp_path_factory.mktemp("gtfs_csv"))
    frames = synth.generate(out, seed=42)
    return out, frames


@pytest.fixture(scope="module")
def pipeline(spark, fixtures):
    from transit_data_pipeline_spark.gtfs import ingest, warehouse

    csv_dir, _ = fixtures
    staging = ingest.read_staging(spark, csv_dir)
    operational = ingest.build_operational(staging)
    wh = warehouse.build_warehouse(operational)
    return staging, operational, wh


def test_quality_audits(spark, pipeline):
    from transit_data_pipeline_spark.gtfs import ingest

    staging, _, _ = pipeline
    audits = {r["check"]: r["n"] for r in ingest.quality_audits(staging).collect()}
    assert audits["stops_null_coordinates"] > 0  # fixture plants ~2%
    assert audits["trips_orphan_route"] > 0
    assert audits["stop_times_invalid_arrival"] > 0
    assert audits["calendar_services"] == 3


def test_operational_cleansing(pipeline):
    staging, op, _ = pipeline
    # null coordinates dropped
    assert op["stops"].filter(F.col("stop_lat").isNull()).count() == 0
    # orphan trips dropped by FK join
    assert op["trips"].count() < staging["trips"].count()
    # malformed arrivals dropped, parsed seconds may exceed 86400
    assert op["stop_times"].filter(F.col("arrival_s").isNull()).count() == 0
    assert op["stop_times"].filter(F.col("arrival_s") >= 86400).count() > 0
    # calendar booleans are real booleans
    assert dict(op["calendar"].dtypes)["monday"] == "boolean"


def test_gtfs_time_parser(spark):
    from transit_data_pipeline_spark.gtfs.ingest import gtfs_time_to_seconds

    df = spark.createDataFrame(
        [("25:10:00",), ("07:05:30",), ("bad:time",), (None,)], "t string"
    ).select(gtfs_time_to_seconds(F.col("t")).alias("s"))
    assert [r["s"] for r in df.collect()] == [25 * 3600 + 600, 7 * 3600 + 330, None, None]


def test_warehouse_invariants(pipeline):
    _, op, wh = pipeline
    # FIXTURES.md derived-layer checks
    assert wh["dim_time"].count() == 96
    assert wh["dim_weather"].count() == 8
    # dim_date spans min→max of delay_events dates
    lo, hi = op["delay_events"].agg(
        F.min(F.to_date("actual_arrival")), F.max(F.to_date("actual_arrival"))
    ).first()
    n_days = (hi - lo).days + 1
    assert wh["dim_date"].count() == n_days
    # fact rows = delay events surviving the dimension joins
    assert 0 < wh["fact_delay_events"].count() <= op["delay_events"].count()
    # the reference's delay_category quirk: delay 0..5 boundaries
    cats = {
        r["delay_category"]
        for r in wh["fact_delay_events"].select("delay_category").distinct().collect()
    }
    assert cats <= {"Minor", "Moderate", "Severe", "Extreme"}
    # surrogate keys deterministic + dense
    keys = [r["route_key"] for r in wh["dim_route"].orderBy("route_key").collect()]
    assert keys == list(range(1, len(keys) + 1))


def test_reconciliation_counts(pipeline):
    from transit_data_pipeline_spark.gtfs import ingest

    staging, op, _ = pipeline
    rec = ingest.reconciliation_counts(staging, op).collect()
    by = {(r["table_name"], r["layer"]): r["n_rows"] for r in rec}
    assert by[("stops", "operational")] <= by[("stops", "staging")]
    assert by[("calendar", "operational")] == by[("calendar", "staging")]


def test_upsert_ignore_duplicates(spark):
    from transit_data_pipeline_spark.gtfs.ingest import upsert_ignore_duplicates

    existing = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    incoming = spark.createDataFrame([(2, "XX"), (3, "c")], "k int, v string")
    out = upsert_ignore_duplicates(existing, incoming, ["k"]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_analysis_queries_run(pipeline):
    from transit_data_pipeline_spark.gtfs import analysis

    _, _, wh = pipeline
    for name, fn in analysis.ALL_QUERIES.items():
        df = fn(wh)
        assert df.count() > 0, name
    # q9 takes the frozen as-of parameter
    max_dk = wh["fact_delay_events"].agg(F.max("date_key")).first()[0]
    assert analysis.q9_recent_vs_historical(wh, max_dk).count() > 0


def test_materialized_views(pipeline, tmp_path, spark):
    from transit_data_pipeline_spark.gtfs import warehouse

    _, _, wh = pipeline
    out = str(tmp_path / "mv")
    warehouse.refresh_materialized_views(wh, out)
    mv = spark.read.parquet(f"{out}/mv_route_performance")
    assert mv.count() > 0 and "median_delay" in mv.columns


def test_dashboard_queries(spark, pipeline):
    """Every dashboard widget query runs and respects its contract:
    date filtering, top-k size, per-group aggregates (ref
    `streamlit_dashboard.py` entry path)."""
    from transit_data_pipeline_spark.gtfs import dashboard as dash

    _, operational, wh = pipeline
    ev = operational["delay_events"]
    lo, hi = ev.agg(
        F.date_format(F.min(F.to_date("actual_arrival")), "yyyy-MM-dd"),
        F.date_format(F.max(F.to_date("actual_arrival")), "yyyy-MM-dd"),
    ).first()

    routes = dash.route_options(wh["dim_route"]).collect()
    assert len(routes) == len({r.route_id for r in routes})  # distinct

    kpi = dash.kpi_metrics(ev, lo, hi).first()
    assert kpi.total_delays == ev.count()  # full range covers all rows
    assert kpi.high_risk_delays == ev.filter(F.col("delay_minutes") > 20).count()

    trend = dash.daily_trend(ev, lo, hi)
    assert trend.agg(F.sum("delay_count")).first()[0] == ev.count()

    top = dash.top_routes(ev, operational["trips"], lo, hi, k=5).collect()
    assert len(top) <= 5
    counts = [r.delay_count for r in top]
    assert counts == sorted(counts, reverse=True)

    hours = dash.hourly_pattern(ev, lo, hi).select("hour").collect()
    assert all(0 <= r.hour <= 23 for r in hours)

    weather = dash.weather_impact(ev, lo, hi).collect()
    avgs = [r.avg_delay for r in weather]
    assert avgs == sorted(avgs, reverse=True)

    # narrow range filters rows out
    assert dash.kpi_metrics(ev, lo, lo).first().total_delays <= kpi.total_delays


# ---- materialization boundaries of the nightly refresh ---------------


def _expected_counts(frames) -> dict[str, int]:
    """Operational row counts computed from the generated frames: the
    cleanse, FK joins and first-wins dedup of `build_operational`."""
    stops = frames["stops"].dropna(subset=["stop_lat", "stop_lon"])
    routes = frames["routes"]
    trips = frames["trips"][frames["trips"]["route_id"].isin(routes["route_id"])]
    st = frames["stop_times"]
    st = st[
        st["arrival_time"].astype(str).str.fullmatch(r"\d+:[0-5]\d:[0-5]\d")
        & st["trip_id"].isin(trips["trip_id"])
        & st["stop_id"].isin(stops["stop_id"])
    ]
    ev = frames["delay_events"]
    ev = ev[ev["trip_id"].isin(trips["trip_id"]) & ev["stop_id"].isin(stops["stop_id"])]
    return {
        "stops": stops["stop_id"].nunique(),
        "routes": routes["route_id"].nunique(),
        "trips": trips["trip_id"].nunique(),
        "stop_times": len(st.drop_duplicates(["trip_id", "stop_sequence"])),
        "delay_events": len(ev),
    }


MATERIALIZED = ("stops", "routes", "trips", "stop_times", "delay_events")


def _counts(op) -> dict[str, int]:
    return {name: op[name].count() for name in MATERIALIZED}


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _jobs_in_group(sc, group: str, fn):
    """Run ``fn`` under its own job group; returns (result, jobs run)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def refresh(spark, pipeline, tmp_path_factory):
    """One nightly model refresh (CSV → operational → warehouse →
    features → model, evaluated and saved), started from an empty
    CacheManager so that what it leaves there is its own."""
    from transit_data_pipeline_spark.gtfs import features, ingest, ml, warehouse

    staging = pipeline[0]
    sc = spark.sparkContext
    spark.catalog.clearCache()
    op = ingest.build_operational(staging)
    ingest.quality_audits(staging).collect()
    warehouse.build_warehouse(op)["fact_delay_events"].count()
    as_of = op["delay_events"].agg(
        F.date_format(F.max(F.to_date("actual_arrival")), "yyyy-MM-dd")
    ).first()[0]
    feats, feature_jobs = _jobs_in_group(
        sc, "gtfs-refresh:build_features", lambda: features.build_features(op, as_of)
    )
    train_df, test_df = features.train_test_views(feats)
    model = ml.train(train_df, max_depth=3, max_iter=3)
    _, eval_jobs = _jobs_in_group(
        sc, "gtfs-refresh:evaluate", lambda: ml.evaluate(model, test_df)
    )
    ml.save_model(model, str(tmp_path_factory.mktemp("model")), trained_at=as_of)
    return dict(
        staging=staging, op=op, feats=feats, feature_jobs=feature_jobs, eval_jobs=eval_jobs
    )


def test_operational_and_feature_tables_read_no_csv(refresh):
    """The five derived operational tables and the feature table are
    materialized leaves: their optimized plans scan no CSV."""
    assert " csv" in _optimized_plan(refresh["staging"]["stops"])  # the probe sees scans
    for name in MATERIALIZED:
        assert " csv" not in _optimized_plan(refresh["op"][name]), name
    assert " csv" not in _optimized_plan(refresh["feats"])


def test_refresh_leaves_cache_manager_empty(spark, refresh):
    """The pins are localCheckpoints, not persist(): nothing registers
    in the session CacheManager, so a second refresh over the same CSV
    computes its own tables."""
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_evaluate_is_one_pass(refresh):
    assert 0 < refresh["eval_jobs"] <= 2, refresh["eval_jobs"]


def test_feature_build_is_one_aggregate(refresh):
    """The 11 trailing means come from one aggregate, one join and one
    pivot (about 14 jobs with the pin), not one groupBy+join per mean
    (31-32)."""
    assert 0 < refresh["feature_jobs"] <= 16, refresh["feature_jobs"]


def _nightly_refresh(spark, csv_dir: str, model_dir: str) -> None:
    """The nightly model refresh as the bench times it: GTFS CSV →
    operational → warehouse → features → model, evaluated and saved."""
    from transit_data_pipeline_spark.gtfs import features, ingest, ml, warehouse

    staging = ingest.read_staging(spark, csv_dir)
    op = ingest.build_operational(staging)
    ingest.quality_audits(staging).collect()
    warehouse.build_warehouse(op)["fact_delay_events"].count()
    as_of = op["delay_events"].agg(
        F.date_format(F.max(F.to_date("actual_arrival")), "yyyy-MM-dd")
    ).first()[0]
    train_df, test_df = features.train_test_views(features.build_features(op, as_of))
    model = ml.train(train_df, max_depth=4, max_iter=3)
    ml.evaluate(model, test_df)
    ml.save_model(model, model_dir, trained_at=as_of)


def test_warm_refresh_reuses_compiled_classes(spark, fixtures, tmp_path):
    """A refresh generates about 192 whole-stage-codegen classes. With
    the session's codegen cache sized for them, a second refresh in the
    session compiles few (7-16 in the bench), not all of them again
    (about 190 at Spark's default cache of 100 entries)."""
    csv_dir, _ = fixtures
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    _nightly_refresh(spark, csv_dir, str(tmp_path / "model-1"))
    before = compiles.getCount()
    _nightly_refresh(spark, csv_dir, str(tmp_path / "model-2"))
    assert compiles.getCount() - before <= 40, compiles.getCount() - before


def test_operational_counts_per_csv_dir(spark, fixtures, tmp_path):
    """Two build_operational calls over two CSV dirs in one session each
    return their own dir's counts, also after the other was built."""
    from transit_data_pipeline_spark.gtfs import ingest, synth

    dir_a, frames_a = fixtures
    dir_b = str(tmp_path / "gtfs_b")
    frames_b = synth.generate(
        dir_b, seed=7, n_routes=4, trips_per_route=3, n_stops=30, n_days=7
    )
    op_a = ingest.build_operational(ingest.read_staging(spark, dir_a))
    op_b = ingest.build_operational(ingest.read_staging(spark, dir_b))
    expected_a, expected_b = _expected_counts(frames_a), _expected_counts(frames_b)
    assert all(expected_a[t] != expected_b[t] for t in MATERIALIZED)
    assert _counts(op_b) == expected_b
    assert _counts(op_a) == expected_a
