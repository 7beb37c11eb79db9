"""ML feature engineering (ref `sql/ml_feature_engineering.sql`):
the 40+-column delay feature table.

The reference materializes 11 temp-table aggregates and runs
UPDATE…FROM per column group (`:251-457`) because row-store UPDATE is
its only tool. Spark-first: the 11 trailing means (9 key sets) come
from ONE aggregate keyed by (key set, key), joined back to the events
once and pivoted to one row per event, with no mutation. Means are
*snapshot* windows relative to a parameterized `as_of` date (the
reference's CURRENT_DATE, frozen for determinism — SURVEY §7).

Two materialization boundaries, where the reference writes a table:
the operational tables come in pinned (``ingest.build_operational``),
and the finished feature table is pinned on the way out as the
reference's ``ml_features`` table, which the split, training,
evaluation, daily quality gates and feature-store write each read
again. :func:`train_test_views` pins its ranked frame too, so both
splits are filters over one leaf. Every pin is an eager
``localCheckpoint`` (``operators._util._pin``), never ``persist``: the
CacheManager keys a persisted frame by its canonical plan, so a second
refresh over the same inputs in one session would reuse the first
one's blocks instead of computing its own.

Deliberately replicated quirk: the ML layer's weekend uses the
*Python* DOW convention day_of_week IN (5,6)
(`ml_feature_engineering.sql:170`) while the warehouse dim uses PG
0/6 — both conventions live in this codebase on purpose (SURVEY §7).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators._util import _pin
from .warehouse import WEATHER_SEVERITY

#: Trailing means (ref temp tables `:253-383`), key set -> {window days:
#: column}: avg(delay_minutes) of the window's events sharing the row's
#: key; 0.0 for a NULL key or an empty window (ref COALESCE `:387-453`).
TRAILING_MEANS: dict[tuple[str, ...], dict[int, str]] = {
    ("route_id",): {7: "avg_delay_same_route_7d", 30: "avg_delay_same_route_30d"},
    ("stop_id",): {7: "avg_delay_same_stop_7d", 30: "avg_delay_same_stop_30d"},
    ("route_id", "stop_id"): {30: "avg_delay_same_route_stop_30d"},
    ("trip_id",): {30: "avg_delay_same_trip_30d"},
    ("hour_of_day",): {30: "avg_delay_same_hour_30d"},
    ("route_id", "hour_of_day"): {30: "avg_delay_route_hour_30d"},
    ("day_of_week",): {30: "avg_delay_same_dow_30d"},
    ("weather_condition",): {30: "avg_delay_same_weather_30d"},
    ("route_id", "day_of_week"): {30: "avg_delay_route_dow_30d"},
}
MEAN_COLUMNS = [name for cols in TRAILING_MEANS.values() for name in cols.values()]


def _trailing_means(ev: DataFrame, as_of) -> DataFrame:
    """id -> the :data:`TRAILING_MEANS` columns, NULL where none applies
    (ids are unique). Each event yields a row per key set whose keys are
    all non-NULL, keyed by ``k`` = struct(set index, all key columns, NULL
    outside the set; struct equality matches NULL fields): typed and
    injective. One aggregate over the widest window gives every window's
    mean per ``k``; one join and one pivot by id follow."""
    key_cols = sorted({c for keys in TRAILING_MEANS for c in keys})
    windows = sorted({d for cols in TRAILING_MEANS.values() for d in cols})
    age = F.datediff(as_of, F.to_date("actual_arrival"))  # days before as_of
    key_rows = F.array(*[
        F.when(reduce(operator.and_, [F.col(c).isNotNull() for c in keys]), F.struct(
            F.lit(i).alias("set"),
            *[F.col(c) if c in keys else F.lit(None).cast(ev.schema[c].dataType).alias(c)
              for c in key_cols],
        ))
        for i, keys in enumerate(TRAILING_MEANS)
    ])
    keyed = ev.select("id", age.alias("age"), "delay_minutes", F.explode(key_rows).alias("k"))
    keyed = keyed.filter(F.col("k").isNotNull())
    means = keyed.filter(F.col("age").between(0, max(windows))).groupBy("k").agg(*[
        F.avg(F.when(F.col("age") <= d, F.col("delay_minutes"))).alias(f"m{d}") for d in windows
    ])
    return keyed.select("id", "k").join(means, "k").groupBy("id").agg(*[
        F.max(F.when(F.col("k.set") == i, F.col(f"m{d}"))).alias(name)
        for i, cols in enumerate(TRAILING_MEANS.values())
        for d, name in cols.items()
    ])


def build_features(operational: dict[str, DataFrame], as_of_date: str) -> DataFrame:
    """delay_events ⋈ trips ⋈ routes ⋈ stop_times, plus the 11 trailing
    means joined by event id → wide feature frame (ref `:135-249` +
    `:387-453`), returned materialized (see the module docstring)."""
    trips = operational["trips"].select("trip_id", "route_id", "service_id", "direction_id")
    routes = operational["routes"].select("route_id", "route_type")
    st = operational["stop_times"].select("trip_id", "stop_id", "stop_sequence")
    max_seq = st.groupBy("trip_id").agg(F.max("stop_sequence").alias("max_seq"))
    hour = (F.col("scheduled_arrival") / 3600).cast("int") % 24
    ev = operational["delay_events"].join(trips, "trip_id").withColumn("hour_of_day", hour)
    means = _trailing_means(ev, F.lit(as_of_date).cast("date"))

    sev_map = F.create_map(*[F.lit(x) for c, (s, _) in WEATHER_SEVERITY.items() for x in (c, s)])
    dow = F.col("day_of_week")  # Python convention 0=Monday
    is_weekend = dow.isin(5, 6)  # ML-layer convention (ref :170)
    is_rush = F.col("hour_of_day").isin(7, 8, 9, 17, 18, 19)
    severity = F.coalesce(sev_map[F.col("weather_condition")], F.lit(1))

    out = (
        ev.join(means, "id", "left")
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
            "hour_of_day",
            dow.alias("day_of_week"),
            F.month("actual_arrival").alias("month"),
            F.weekofyear("actual_arrival").alias("week_of_year"),
            is_weekend.cast("int").alias("is_weekend"),
            is_rush.cast("int").alias("is_rush_hour"),
            F.col("is_holiday").cast("int").alias("is_holiday"),
            "weather_condition",
            severity.alias("weather_severity"),
            "route_type",
            "direction_id",
            F.coalesce("stop_sequence", F.lit(0)).alias("stop_sequence"),
            F.greatest(
                F.lit(0), F.coalesce("max_seq", F.lit(0)) - F.coalesce("stop_sequence", F.lit(0))
            ).alias("stops_remaining"),  # ref :189
            # interaction features (ref :226-243)
            (is_weekend.cast("int") * severity).alias("weekend_weather_interaction"),
            (is_rush.cast("int") * severity).alias("rush_weather_interaction"),
            *[F.coalesce(c, F.lit(0.0)).alias(c) for c in MEAN_COLUMNS],  # ref :387-453
        )
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
