"""ML feature engineering (ref `sql/ml_feature_engineering.sql`):
the 40+-column delay feature table.

The reference materializes 11 temp-table aggregates and runs
UPDATE…FROM per column group (`:251-457`) because row-store UPDATE is
its only tool. Spark-first: each historical aggregate is a
groupBy+join (decorrelated, J6/J8) over the operational tables, with
no mutation, and every aggregate shuffle is keyed by its own group
key. Aggregates are *snapshot* windows relative to a parameterized
`as_of` date (the reference's CURRENT_DATE, frozen for determinism —
SURVEY §7).

Two materialization boundaries, where the reference writes a table:
the operational tables come in pinned (``ingest.build_operational``),
and the finished feature table is pinned once more on the way out,
as the reference's ``ml_features`` table. The split, training,
evaluation, the daily quality gates and the feature-store write all
read it several times; without the pin each of those actions would
re-run the 11 aggregate joins. :func:`train_test_views` pins its
ranked frame too, so both splits are filters over one leaf. Every pin
is an eager ``localCheckpoint`` (``operators._util._pin``), never
``persist``: the CacheManager keys a persisted frame by its canonical
plan, so a second refresh over the same inputs in one session would
reuse the first one's blocks instead of computing its own.

Deliberately replicated quirk: the ML layer's weekend uses the
*Python* DOW convention day_of_week IN (5,6)
(`ml_feature_engineering.sql:170`) while the warehouse dim uses PG
0/6 — both conventions live in this codebase on purpose (SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators._util import _pin
from .warehouse import WEATHER_SEVERITY


def _hist(
    base: DataFrame, keys: list[str], days: int, as_of, name: str
) -> DataFrame:
    """One historical aggregate: avg delay over the trailing `days`
    window ending at as_of, grouped by `keys` (ref temp tables
    `ml_feature_engineering.sql:253-383`)."""
    return (
        base.filter(
            (F.to_date("actual_arrival") >= F.date_sub(as_of, days))
            & (F.to_date("actual_arrival") <= as_of)
        )
        .groupBy(*keys)
        .agg(F.avg("delay_minutes").alias(name))
    )


def build_features(
    operational: dict[str, DataFrame], as_of_date: str
) -> DataFrame:
    """delay_events ⋈ trips ⋈ routes ⋈ stop_times (+11 historical
    joins) → wide feature frame (ref `:135-249` + `:387-453`),
    returned materialized (see the module docstring)."""
    as_of = F.lit(as_of_date).cast("date")
    e = operational["delay_events"]
    trips = operational["trips"].select("trip_id", "route_id", "service_id", "direction_id")
    routes = operational["routes"].select("route_id", "route_type")
    st = operational["stop_times"].select("trip_id", "stop_id", "stop_sequence")
    max_seq = operational["stop_times"].groupBy("trip_id").agg(
        F.max("stop_sequence").alias("max_seq")
    )

    sev_map = F.create_map(
        *[F.lit(x) for c, (s, _) in WEATHER_SEVERITY.items() for x in (c, s)]
    )
    hour = (F.col("scheduled_arrival") / 3600).cast("int") % 24
    dow = F.col("day_of_week")  # Python convention 0=Monday
    is_weekend = dow.isin(5, 6)  # ML-layer convention (ref :170)
    is_rush = hour.isin(7, 8, 9, 17, 18, 19)
    severity = F.coalesce(sev_map[F.col("weather_condition")], F.lit(1))

    base = (
        e.join(trips, "trip_id")
        .join(F.broadcast(routes), "route_id")
        .join(st, ["trip_id", "stop_id"], "left")
        # max_seq is trip-keyed (unbounded at network scale) — no
        # broadcast hint; AQE picks the strategy from runtime sizes.
        .join(max_seq, "trip_id", "left")
        .select(
            F.col("id").alias("feature_id"),
            "trip_id",
            "route_id",
            "stop_id",
            F.to_date("actual_arrival").alias("event_date"),
            "delay_minutes",
            hour.alias("hour_of_day"),
            dow.alias("day_of_week"),
            F.month("actual_arrival").alias("month"),
            F.weekofyear("actual_arrival").alias("week_of_year"),
            is_weekend.cast("int").alias("is_weekend"),
            is_rush.cast("int").alias("is_rush_hour"),
            F.col("is_holiday").cast("int").alias("is_holiday"),
            "weather_condition",
            severity.alias("weather_severity"),
            "route_type",
            F.col("direction_id"),
            F.coalesce("stop_sequence", F.lit(0)).alias("stop_sequence"),
            F.greatest(
                F.lit(0), F.coalesce("max_seq", F.lit(0)) - F.coalesce("stop_sequence", F.lit(0))
            ).alias("stops_remaining"),  # ref :189
            # interaction features (ref :226-243)
            (is_weekend.cast("int") * severity).alias("weekend_weather_interaction"),
            (is_rush.cast("int") * severity).alias("rush_weather_interaction"),
        )
    )

    ev = e.join(trips, "trip_id")
    hour_col = ((F.col("scheduled_arrival") / 3600).cast("int") % 24).alias("hour_of_day")
    ev_h = ev.select("*", hour_col)

    hist_specs = [
        (ev, ["route_id"], 7, "avg_delay_same_route_7d"),
        (ev, ["route_id"], 30, "avg_delay_same_route_30d"),
        (ev, ["stop_id"], 7, "avg_delay_same_stop_7d"),
        (ev, ["stop_id"], 30, "avg_delay_same_stop_30d"),
        (ev, ["route_id", "stop_id"], 30, "avg_delay_same_route_stop_30d"),
        (ev, ["trip_id"], 30, "avg_delay_same_trip_30d"),
        (ev_h, ["hour_of_day"], 30, "avg_delay_same_hour_30d"),
        (ev_h, ["route_id", "hour_of_day"], 30, "avg_delay_route_hour_30d"),
        (ev, ["day_of_week"], 30, "avg_delay_same_dow_30d"),
        (ev, ["weather_condition"], 30, "avg_delay_same_weather_30d"),
        (ev, ["route_id", "day_of_week"], 30, "avg_delay_route_dow_30d"),
    ]
    out = base
    for src, keys, days, name in hist_specs:
        agg = _hist(src, keys, days, as_of, name)
        # Some aggregates are keyed by unbounded domains (trip_id,
        # route×stop): leave broadcast-vs-shuffle to AQE's runtime
        # size estimates rather than forcing a hint.
        out = out.join(agg, keys, "left").withColumn(
            name, F.coalesce(F.col(name), F.lit(0.0))  # ref COALESCE(...,0) :387-453
        )
    return _pin(out)


def train_test_views(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic time-ordered 80/20 split (ref views `:468-519`):
    global ROW_NUMBER vs COUNT(*) via the distributed two-phase range
    rank ((event_date, feature_id) is a total order — same rows as the
    serial window, never a single-partition sort). The ranked frame is
    pinned like the feature table, so the rank's range shuffle, summary
    broadcast and window run once, not again for every action of the
    training and the evaluation that read the two splits."""
    from ..functions.ranking import two_phase_rank

    flagged = _pin(
        two_phase_rank(
            features,
            ("event_date", "feature_id"),
            rank_col="__rn",
            n_col="__total",
        )
    )
    train = flagged.filter(F.col("__rn") <= F.col("__total") * 0.8).drop("__rn", "__total")
    test = flagged.filter(F.col("__rn") > F.col("__total") * 0.8).drop("__rn", "__total")
    return train, test
