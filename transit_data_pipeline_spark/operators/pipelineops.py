"""Pipeline-shaped operators completing the SURVEY §2 inventory:
mixed inner+left feature joins (J5), chained aggregate join-update
(J8), multi-key validation joins (J11), dynamic day-column resolution
(J12), and deterministic hash-ordered sampling (the portable,
cluster-reproducible replacement for ORDER BY RANDOM(), O2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import numeric as N
from ._util import _pin
from .registry import register

SQL_EVENT_TIME = "make_timestamp(epoch_ns(ts) // 1000)"


@register(
    "feature_join_update",
    ops=("J5", "J8", "P6", "A3"),
    doc="The reference's UPDATE...FROM feature build "
    "(`ml_feature_engineering.sql:387-453`): three decorrelated "
    "aggregate groups chained as left joins + COALESCE(...,0) — one "
    "immutable plan, no mutation.",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, {N.sql_davg("value")} AS user_avg_value FROM events GROUP BY 1
), per_type AS (
  SELECT event_type, {N.sql_davg("value")} AS type_avg_value FROM events GROUP BY 1
), per_hour AS (
  SELECT hour({SQL_EVENT_TIME}) AS h, {N.sql_davg("value")} AS hour_avg_value
  FROM events GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type, e.value,
  COALESCE(u.user_avg_value, 0.0) AS user_avg_value,
  COALESCE(t.type_avg_value, 0.0) AS type_avg_value,
  COALESCE(h.hour_avg_value, 0.0) AS hour_avg_value
FROM events e
LEFT JOIN per_user u ON e.user_id = u.user_id
LEFT JOIN per_type t ON e.event_type = t.event_type
LEFT JOIN per_hour h ON hour({SQL_EVENT_TIME}) = h.h
""",
)
def feature_join_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(N.davg("value").alias("user_avg_value"))
    per_type = e.groupBy("event_type").agg(N.davg("value").alias("type_avg_value"))
    per_hour = e.groupBy(F.hour("event_time").alias("h")).agg(
        N.davg("value").alias("hour_avg_value")
    )
    return (
        e.withColumn("h", F.hour("event_time"))
        .join(F.broadcast(per_user), "user_id", "left")
        .join(F.broadcast(per_type), "event_type", "left")
        .join(F.broadcast(per_hour), "h", "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.coalesce("user_avg_value", F.lit(0.0)).alias("user_avg_value"),
            F.coalesce("type_avg_value", F.lit(0.0)).alias("type_avg_value"),
            F.coalesce("hour_avg_value", F.lit(0.0)).alias("hour_avg_value"),
        )
    )


@register(
    "multikey_validation_join",
    ops=("J11", "A3", "A9"),
    doc="Prediction-vs-actual style 3-key equi-join "
    "(ref `ml_pipeline_dag.py:369-372`): shipped-1996 lineitems "
    "validated against the full table on (orderkey, partkey, suppkey).",
    oracle=f"""
WITH shipped AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         {N.sql_dsum("l_quantity")} AS shipped_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2, 3
), totals AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         {N.sql_dsum("l_quantity")} AS total_qty
  FROM lineitem
  GROUP BY 1, 2, 3
)
SELECT s.l_orderkey, s.l_partkey, s.l_suppkey, s.shipped_qty, t.total_qty,
       s.shipped_qty / t.total_qty AS shipped_ratio
FROM shipped s
JOIN totals t ON s.l_orderkey = t.l_orderkey
             AND s.l_partkey = t.l_partkey
             AND s.l_suppkey = t.l_suppkey
""",
)
def multikey_validation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_partkey", "l_suppkey"]
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(*keys)
        .agg(N.dsum("l_quantity").alias("shipped_qty"))
    )
    totals = l.groupBy(*keys).agg(N.dsum("l_quantity").alias("total_qty"))
    return shipped.join(totals, keys).select(
        *keys,
        "shipped_qty",
        "total_qty",
        (F.col("shipped_qty") / F.col("total_qty")).alias("shipped_ratio"),
    )


@register(
    "dynamic_day_column",
    ops=("J12", "A5", "P5"),
    doc="Calendar service-day resolution (ref dynamic boolean column "
    "`generate_synthetic_data.py:84-90`): pivot users to per-DOW "
    "activity booleans, then filter on the day picked in Python — the "
    "column name is data-driven, the plan still static.",
    oracle=f"""
WITH act AS (
  SELECT user_id,
    SUM(CASE WHEN dayofweek({SQL_EVENT_TIME}) = 1 THEN 1 ELSE 0 END) > 0 AS monday,
    SUM(CASE WHEN dayofweek({SQL_EVENT_TIME}) = 5 THEN 1 ELSE 0 END) > 0 AS friday,
    SUM(CASE WHEN dayofweek({SQL_EVENT_TIME}) IN (0, 6) THEN 1 ELSE 0 END) > 0 AS weekend_pg,
    COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT user_id, monday, friday, weekend_pg, n_events
FROM act WHERE monday
""",
)
def dynamic_day_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    pg_dow = F.dayofweek("event_time") - 1  # PG convention 0=Sunday
    act = e.groupBy("user_id").agg(
        (F.sum(F.when(pg_dow == 1, 1).otherwise(0)) > 0).alias("monday"),
        (F.sum(F.when(pg_dow == 5, 1).otherwise(0)) > 0).alias("friday"),
        (F.sum(F.when(pg_dow.isin(0, 6), 1).otherwise(0)) > 0).alias("weekend_pg"),
        F.count(F.lit(1)).alias("n_events"),
    )
    target_day = "monday"  # chosen in Python, as the reference does
    return act.filter(F.col(target_day))


@register(
    "deterministic_sample",
    ops=("O2", "F12"),
    doc="Training-set sampling: the reference's ORDER BY RANDOM() LIMIT "
    "(`train_delay_model.py:123-124`) made reproducible — order by a "
    "keyed hash (md5 of a seeded key), identical on any cluster, any "
    "partitioning, any engine.",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY md5('seed42:' || CAST(o_orderkey AS VARCHAR)), o_orderkey
LIMIT 100
""",
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    h = F.md5(F.concat(F.lit("seed42:"), F.col("o_orderkey").cast("string")))
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(h, "o_orderkey")
        .limit(100)
    )


@register(
    "salted_skew_agg",
    ops=("A3", "A9"),
    doc="Skew-mitigating two-phase aggregation: the grouping key is "
    "salted (key, hash mod 16), partial aggregates computed per salted "
    "key, then combined per real key — a hot key's rows spread over 16 "
    "tasks instead of one straggler. Partials stay in exact DECIMAL "
    "until the final combine, so the result is bitwise identical to "
    "the one-phase plan (and to the oracle) on any partitioning. AQE "
    "skew handling covers joins; this is the agg-side equivalent for "
    "known-hot keys.",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       {N.sql_dsum("l_quantity")} AS sum_qty,
       ({N.sql_dsum("l_extendedprice")} / COUNT(l_extendedprice)) AS avg_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(16))
    partial = (
        l.withColumn("salt", salt)
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast(N.DEC)).alias("qty_dec"),
            F.sum(F.col("l_extendedprice").cast(N.DEC)).alias("price_dec"),
            F.count("l_extendedprice").alias("n_price"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("n").alias("n_rows"),
        F.sum("qty_dec").cast("double").alias("sum_qty"),
        (F.sum("price_dec").cast("double") / F.sum("n_price")).alias("avg_price"),
    )


@register(
    "range_join_price_bands",
    ops=("P5", "A3", "J10"),
    doc="Range join, discretized: joining rows to interval bands via "
    "BETWEEN is a theta join (a nested-loop at scale); when the bands "
    "tile the space, map each row straight to its band key — the range "
    "join becomes a pure projection + aggregation with no join at all. "
    "The oracle proves equivalence by running the literal BETWEEN join.",
    oracle=f"""
WITH bands(band_id, lo, hi) AS (VALUES
  (0, 0.0, 20000.0), (1, 20000.0, 40000.0), (2, 40000.0, 60000.0),
  (3, 60000.0, 80000.0), (4, 80000.0, 1e12)
)
SELECT b.band_id, b.lo AS band_lo,
       COUNT(*) AS n_items,
       {N.sql_dsum("l.l_extendedprice")} AS band_revenue
FROM lineitem l
JOIN bands b ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
GROUP BY b.band_id, b.lo
""",
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    band = F.least(F.floor(F.col("l_extendedprice") / 20000).cast("int"), F.lit(4))
    return (
        l.withColumn("band_id", band)
        .groupBy("band_id", (F.col("band_id") * 20000.0).alias("band_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            N.dsum("l_extendedprice").alias("band_revenue"),
        )
    )


@register(
    "rollup_multi_granularity",
    ops=("A3", "A1", "F1"),
    doc="Hypertable-style continuous aggregate: one pass produces the "
    "(year, month), (year), and grand-total granularities via ROLLUP — "
    "partial aggregates are shared across levels instead of three "
    "separate scans (the reference materializes each granularity as "
    "its own summary table, `fact_dim_tables.sql:116-150`).",
    oracle=f"""
SELECT year(o_orderdate) AS order_year,
       month(o_orderdate) AS order_month,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
""",
)
def rollup_multi_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            "o_totalprice",
        )
        .rollup("order_year", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            N.dsum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "cube_priority_status",
    ops=("A3", "A1"),
    doc="CUBE over (priority, status): all four grouping combinations "
    "from one pass with shared partials — with ROLLUP "
    "(rollup_multi_granularity) this completes the multi-granularity "
    "aggregate family.",
    oracle=f"""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
""",
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        N.dsum("o_totalprice").alias("revenue"),
    )


@register(
    "pivot_status_matrix",
    ops=("A5", "P1"),
    doc="Pivot: order counts per priority × status as a wide matrix. "
    "Spark's pivot() compiles to conditional aggregation — the oracle "
    "spells that compilation out, which is also the portable ANSI "
    "form. Pivot values are declared, so no extra distinct pass runs.",
    oracle="""
SELECT o_orderpriority,
  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])  # declared values: one pass
        .count()
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


@register(
    "stratified_sample",
    ops=("O2", "F12", "A9"),
    doc="Stratified sampling (sampleBy semantics, deterministic): each "
    "priority stratum keeps a different fraction, membership decided "
    "by a keyed md5 uniform instead of an RNG — reproducible on any "
    "partitioning and any engine, no driver-side state. Returns "
    "per-stratum kept/total counts so the realized rates are visible.",
    oracle="""
WITH draw AS (
  SELECT o_orderpriority,
    CAST(concat('0x', substr(md5('strat:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
      / 1152921504606846976.0 AS u
  FROM orders
), rates(o_orderpriority, frac) AS (VALUES
  ('1-URGENT', 0.5), ('2-HIGH', 0.25), ('3-MEDIUM', 0.1),
  ('4-NOT SPECIFIED', 0.05), ('5-LOW', 0.01)
)
SELECT d.o_orderpriority,
       COUNT(*) AS n_total,
       COUNT(CASE WHEN d.u < r.frac THEN 1 END) AS n_kept
FROM draw d JOIN rates r ON d.o_orderpriority = r.o_orderpriority
GROUP BY d.o_orderpriority
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat:"), F.col("o_orderkey").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(16**15))
    )
    rates = F.create_map(
        F.lit("1-URGENT"), F.lit(0.5),
        F.lit("2-HIGH"), F.lit(0.25),
        F.lit("3-MEDIUM"), F.lit(0.1),
        F.lit("4-NOT SPECIFIED"), F.lit(0.05),
        F.lit("5-LOW"), F.lit(0.01),
    )
    return (
        o.select("o_orderpriority", u.alias("u"))
        .withColumn("frac", rates[F.col("o_orderpriority")])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("u") < F.col("frac"), 1)).alias("n_kept"),
        )
    )


#: Bloom bitmap geometry: 2^20 bits = 16 Ki words = 128 KiB broadcast.
_BLOOM_BITS = 1 << 20
_BLOOM_SEEDS = (1, 2)


def _bloom_pos(key, seed: int):
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BLOOM_BITS))


@register(
    "bloom_join_prefilter",
    ops=("J1", "A3", "P4"),
    doc="Bloom-filter join reduction: revenue per priority for "
    "lineitems of high-value orders. At 100 TB the build side "
    "(qualifying orderkeys) is too big to broadcast as a hash set, but "
    "a fixed 128 KiB Bloom bitmap (2^20 bits, k=2 via seeded xxhash64) "
    "is broadcastable at ANY build-side cardinality: the probe side "
    "drops most non-matching rows before the shuffle, and the exact "
    "join afterwards removes the false positives, so the result is "
    "bit-identical to the plain join the oracle runs. The bitmap is "
    "built as a 16 Ki-row (word_idx, word) table with bit_or partial "
    "aggregation - no driver collect; membership tests are two "
    "broadcast-hash-join probes inside codegen.",
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       {N.sql_dsum('l.l_extendedprice')} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000
GROUP BY 1
""",
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    keys = o.where(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderpriority"
    )
    # Build: one 16 Ki-word bitmap via partial-aggregating bit_or.
    pos = F.explode(
        F.array(*[_bloom_pos(F.col("o_orderkey"), s) for s in _BLOOM_SEEDS])
    ).alias("pos")
    words = (
        keys.select(pos)
        .select(
            F.shiftright("pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    # Probe: each seed is a broadcast equi-join on the word index plus
    # a bit test; a key whose word is absent (all-zero) drops at the
    # join itself.
    cand = l.select("l_orderkey", "l_extendedprice")
    for s in _BLOOM_SEEDS:
        w = words.select(
            F.col("word_idx").alias(f"wi{s}"), F.col("word").alias(f"wd{s}")
        )
        cand = (
            cand.withColumn(f"pos{s}", _bloom_pos(F.col("l_orderkey"), s))
            .join(
                F.broadcast(w),
                F.shiftright(F.col(f"pos{s}"), 6) == F.col(f"wi{s}"),
            )
            .where(F.expr(f"(wd{s} & shiftleft(1L, int(pos{s} % 64))) != 0"))
            .drop(f"pos{s}", f"wi{s}", f"wd{s}")
        )
    # Exact join scrubs Bloom false positives; AQE picks the strategy.
    return (
        cand.join(keys, cand["l_orderkey"] == keys["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            N.dsum("l_extendedprice").alias("revenue"),
        )
    )


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "column_profile",
    ops=("A1", "A2", "A12"),
    doc="Data-quality column profiling: one pass over orders emits "
    "per-column row count, null count, exact distinct count, and null "
    "fraction - the pre-ingest audit a training-data pipeline runs "
    "before accepting a drop. Computed as a single multi-distinct "
    "aggregate (Catalyst expands to one shuffle) and unpivoted with "
    "stack(); at 100 TB swap countDistinct for approx_count_distinct "
    "per column to avoid the expand multiplier - the plumbing is "
    "identical.",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       (COUNT(*) - COUNT({c})) / COUNT(*) AS null_frac
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"cnt_{c}"))
        aggs.append(F.countDistinct(c).alias(f"dst_{c}"))
    one = o.agg(*aggs)
    stacked = ", ".join(f"'{c}', cnt_{c}, dst_{c}" for c in _PROFILE_COLS)
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stacked}) AS (column_name, n_nonnull, n_distinct)"
        ),
        "n_rows",
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
        (
            (F.col("n_rows") - F.col("n_nonnull")) / F.col("n_rows")
        ).alias("null_frac"),
    )


@register(
    "column_profile_approx",
    ops=("A2", "A8", "A12"),
    doc="The 100 TB twin of column_profile: per-column profiling with "
    "approx_count_distinct (HLL++, rsd 0.05) instead of exact "
    "COUNT(DISTINCT) — a single ordinary aggregate with NO expand "
    "multiplier (exact multi-distinct over k columns expands every "
    "row k+1 ways before the shuffle) — plus an approx median "
    "(percentile_approx, rank-error 1/2000) for the numeric column. "
    "Estimates are engine-specific, so the oracle gate follows the "
    "sketch-operator pattern: the verification query carries the "
    "EXACT values alongside and emits bounds-check booleans "
    "(distinct within 15 percent = 3x rsd; median within 5 percent), "
    "which the oracle pins to TRUE — an estimator drifting out of "
    "bounds turns the driver row red. Call with verify=False for the "
    "production path: approx-only, one non-expanded pass (the "
    "SCALING.md probe measures this path against the exact profile).",
    oracle="\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       TRUE AS distinct_ok,
       TRUE AS approx_median_ok
FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def column_profile_approx(
    spark: SparkSession, sf_dir: str, verify: bool = True
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"cnt_{c}"))
        aggs.append(F.approx_count_distinct(c, rsd=0.05).alias(f"apx_{c}"))
    if not verify:
        # Production profile: approx only — one pass, no expand, no
        # exact-distinct shuffle amplification. Not oracle-checkable
        # (HLL++ estimates are engine-specific), hence the split.
        one = o.agg(*aggs)
        stacked = ", ".join(f"'{c}', cnt_{c}, apx_{c}" for c in _PROFILE_COLS)
        return one.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {stacked})"
                " AS (column_name, n_nonnull, approx_distinct)"
            ),
            "n_rows",
        ).select(
            "column_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
            "approx_distinct",
        )
    # Verification path: the approx estimators and the exact references
    # in SEPARATE aggregates (mixing countDistinct's expand with the
    # percentile/HLL buffers in one agg was measured 5x slower than the
    # two passes), joined as two 1-row frames.
    aggs.append(
        F.expr("percentile(o_totalprice, 0.5D)").alias("p50_exact")
    )
    aggs.append(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("p50_apx")
    )
    exact = o.agg(
        *[F.countDistinct(c).alias(f"dst_{c}") for c in _PROFILE_COLS]
    )
    one = o.agg(*aggs).crossJoin(F.broadcast(exact))
    stacked = ", ".join(
        f"'{c}', cnt_{c}, dst_{c}, apx_{c}" for c in _PROFILE_COLS
    )
    median_ok = (
        F.abs(F.col("p50_apx") - F.col("p50_exact"))
        <= 0.05 * F.abs(F.col("p50_exact"))
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stacked})"
            " AS (column_name, n_nonnull, n_distinct, approx_distinct)"
        ),
        "n_rows",
        median_ok.alias("p50_ok"),
    ).select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
        "n_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("n_distinct"))
            <= 0.15 * F.col("n_distinct")
        ).alias("distinct_ok"),
        # Vacuously TRUE for non-numeric columns (NULL booleans don't
        # survive the DuckDB comparator); only the o_totalprice row
        # actually exercises the median bound.
        F.when(F.col("column_name") == "o_totalprice", F.col("p50_ok"))
        .otherwise(F.lit(True))
        .alias("approx_median_ok"),
    )


@register(
    "grouping_sets_report",
    ops=("A3", "A1", "F1"),
    doc="GROUPING SETS ((year, priority), (year), (priority)): the "
    "asymmetric multi-granularity report that neither ROLLUP nor "
    "CUBE expresses — one shared-partials pass instead of three "
    "scans, with grouping_id disambiguating levels where a group "
    "key could itself be NULL (completes the family with "
    "rollup_multi_granularity / cube_priority_status).",
    oracle=f"""
SELECT year(o_orderdate) AS order_year,
       o_orderpriority,
       CAST(GROUPING(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY GROUPING SETS ((year(o_orderdate), o_orderpriority),
                        (year(o_orderdate)), (o_orderpriority))
""",
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        "o_orderpriority",
        "o_totalprice",
    )
    return o.groupingSets(
        [["order_year", "o_orderpriority"], ["order_year"], ["o_orderpriority"]],
        "order_year",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        N.dsum("o_totalprice").alias("revenue"),
    )


@register(
    "shuffle_hash_join_hint",
    ops=("J1", "A3"),
    doc="Join-strategy control: lineitem joins orders under a "
    "SHUFFLE_HASH hint — both sides shuffle but neither SORTS, "
    "trading the sort-merge's two O(n log n) sorts for a build-side "
    "hash table (the right call when one side comfortably hashes "
    "per-partition and spilling sort runs would dominate). The plan "
    "test asserts ShuffledHashJoin actually replaced SortMergeJoin; "
    "the oracle is strategy-blind.",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       {N.sql_dsum("l_extendedprice")} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def shuffle_hash_join_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        l.join(o.hint("SHUFFLE_HASH"), l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            N.dsum("l_extendedprice").alias("revenue"),
        )
    )


@register(
    "clustered_write_roundtrip",
    ops=("S3", "O1", "P3"),
    doc="Range-clustered layout: repartitionByRange(o_orderdate) + "
    "sortWithinPartitions before the parquet write gives each output "
    "file a tight min/max date range, so a later date predicate "
    "skips whole files on row-group statistics (poor-man's "
    "Z-ordering, the single highest-leverage layout decision for a "
    "time-filtered 100 TB fact). The roundtrip re-reads the sink "
    "with a date filter and aggregates; the oracle filters the "
    "source directly.",
    oracle=f"""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def clustered_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import _scratch

    out = _scratch(sf_dir, "clustered")
    o = table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    return back.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        N.dsum("o_totalprice").alias("revenue"),
    )


def _morton16(x: str, y: str) -> str:
    """16-bit Morton (Z-order) interleave of two 8-bit values — one
    shared SQL text evaluated identically by Spark SQL and DuckDB
    (both support >>, &, << with the same integer semantics)."""
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


_Z_EXPR = _morton16("(l_partkey % 256)", "(l_suppkey % 256)")


@register(
    "zorder_key_layout",
    ops=("F13", "A3", "O1"),
    doc="Z-order clustering key: a 16-bit Morton interleave of "
    "(partkey, suppkey) low bytes buckets lineitem into 64 "
    "space-filling-curve cells; per-cell min/max ranges of BOTH "
    "dimensions stay tight simultaneously — the property that lets "
    "one clustered layout serve data-skipping predicates on either "
    "column (single-column range clustering, clustered_write_"
    "roundtrip, can only serve one). Pure integer bit arithmetic, "
    "one aggregate, no UDFs.",
    oracle=f"""
SELECT {_Z_EXPR} >> 10 AS z_cell,
       COUNT(*) AS n_rows,
       MIN(l_partkey % 256) AS x_min, MAX(l_partkey % 256) AS x_max,
       MIN(l_suppkey % 256) AS y_min, MAX(l_suppkey % 256) AS y_max
FROM lineitem
GROUP BY 1
""",
)
def zorder_key_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.select(
            F.expr(f"{_Z_EXPR} >> 10").alias("z_cell"),
            F.expr("l_partkey % 256").alias("x"),
            F.expr("l_suppkey % 256").alias("y"),
        )
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


@register(
    "salted_skew_join",
    ops=("J1", "A3", "A9"),
    doc="Skew-mitigating salted join (the join-side companion of "
    "salted_skew_agg): the dimension side is replicated 16x, one copy "
    "per salt value, and the fact side computes a deterministic salt "
    "from its row identity, so the equi-join key becomes (suppkey, "
    "salt) and a hot supplier's rows spread across 16 tasks instead "
    "of one straggler. At this fixture size Catalyst broadcasts the "
    "replicated dim (the salting is then free); at 100 TB with a "
    "too-big-to-broadcast dim and measured hot keys this exact plan "
    "shape is the standard remedy when AQE's skew splitting can't "
    "apply (e.g. bucketed inputs). Result is bitwise identical to "
    "the unsalted join, which is what the oracle runs.",
    oracle=f"""
SELECT s.s_nationkey,
  COUNT(*) AS n_items,
  {N.sql_dsum("l.l_extendedprice")} AS revenue
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(16))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(15))))
    )
    return (
        l.join(s, (l["l_suppkey"] == s["s_suppkey"]) & (l["salt"] == s["salt"]))
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            N.dsum("l_extendedprice").alias("revenue"),
        )
    )


@register(
    "market_basket_lift",
    ops=("J1", "A1", "A9"),
    doc="Market-basket association mining at brand granularity: "
    "distinct (order, brand) incidence from lineitem x part, "
    "co-occurrence pairs from an order-keyed self-join (bounded by "
    "brands-per-order, never all-pairs-of-orders), and exact "
    "support/confidence/lift ratios. Brand incidence keeps the pair "
    "space <= |brands|^2 at any corpus size; the same plan at SKU "
    "granularity adds a min-support pre-filter on the incidence "
    "aggregate (frequent-itemset pruning) before the self-join.",
    oracle="""
WITH incidence AS (
  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n_orders AS (SELECT COUNT(DISTINCT okey) AS n FROM incidence),
per_brand AS (SELECT brand, COUNT(*) AS n_b FROM incidence GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_co
  FROM incidence a
  JOIN incidence b ON a.okey = b.okey AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b, CAST(p.n_co AS BIGINT) AS n_co,
  CAST(ba.n_b AS BIGINT) AS n_a, CAST(bb.n_b AS BIGINT) AS n_b,
  CAST(p.n_co AS DOUBLE) / t.n AS support,
  CAST(p.n_co AS DOUBLE) / ba.n_b AS confidence_a_to_b,
  CAST(p.n_co AS DOUBLE) * t.n / (ba.n_b * bb.n_b) AS lift
FROM pairs p
JOIN per_brand ba ON p.brand_a = ba.brand
JOIN per_brand bb ON p.brand_b = bb.brand
CROSS JOIN n_orders t
WHERE p.n_co >= 3
""",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")

    # Pinned (r10): the order×brand incidence frame (fact join +
    # distinct shuffle) feeds FOUR consumers — the order count, the
    # per-brand marginals, and both sides of the co-occurrence
    # self-join; without the pin the lineitem⋈part distinct executed
    # 4× (5 lineitem scans in the before-plan).
    incidence = _pin(
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n_orders = incidence.select("okey").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    per_brand = incidence.groupBy("brand").agg(F.count(F.lit(1)).alias("n_b"))
    a, b = incidence.alias("a"), incidence.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 3)
    )
    ba = per_brand.select(F.col("brand").alias("brand_a"), F.col("n_b").alias("n_a"))
    bb = per_brand.select(F.col("brand").alias("brand_b"), F.col("n_b").alias("n_b"))
    return (
        pairs.join(F.broadcast(ba), "brand_a")
        .join(F.broadcast(bb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (F.col("n_co").cast("double") / F.col("n")).alias("support"),
            (F.col("n_co").cast("double") / F.col("n_a")).alias("confidence_a_to_b"),
            (
                F.col("n_co").cast("double")
                * F.col("n")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


#: Integer PageRank: ranks scaled by 10^12; all updates use integer
#: division, so every iteration is bitwise-identical in any engine and
#: under any partitioning (float PageRank is order-dependent).
_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    # MATERIALIZED for the same reason as _hits_oracle: DuckDB
    # inlines plain CTEs, and `ew` alone references edges twice.
    ctes = [
        """edges AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)""",
        """ew AS (
  SELECT e.src, e.dst, e.w, ow.out_w
  FROM edges e JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) ow
    ON e.src = ow.src
)""",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, {_PR_SCALE} // n AS rank FROM nodes, nn)",
    ]
    for i in range(1, _PR_ITERS + 1):
        # Dangling-mass redistribution: rank held by nodes with no
        # out-edges is shared uniformly (damped), so total mass is
        # conserved up to integer truncation.
        ctes.append(
            f"""d{i - 1} AS (
  SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dm
  FROM r{i - 1} r
  LEFT JOIN (SELECT DISTINCT src FROM edges) sx ON r.node = sx.src
  WHERE sx.src IS NULL
)"""
        )
        ctes.append(
            f"""r{i} AS (
  SELECT nd.node,
    ({15 * _PR_SCALE} // (100 * nn.n))
      + (85 * COALESCE(s.sc, 0)) // 100
      + (85 * d.dm) // (100 * nn.n) AS rank
  FROM nodes nd CROSS JOIN nn CROSS JOIN d{i - 1} d
  LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM((r.rank * e.w) // e.out_w) AS BIGINT) AS sc
    FROM r{i - 1} r JOIN ew e ON r.node = e.src
    GROUP BY e.dst
  ) s ON nd.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT r.node AS nationkey, n.n_name,
  CAST(r.rank AS BIGINT) AS rank_int,
  CAST(r.rank AS DOUBLE) / {_PR_SCALE} AS rank_share
FROM r{_PR_ITERS} r JOIN nation n ON r.node = n.n_nationkey
"""
    )


@register(
    "nation_trade_pagerank",
    ops=("J4", "A11", "A3"),
    doc="PageRank over the supplier-nation → customer-nation trade "
    "graph (weighted by line count), 5 power iterations in EXACT "
    "integer arithmetic on a 10^12 scale — float PageRank is "
    "partition-order-dependent; integer division makes every "
    "iteration bitwise-reproducible on any cluster. The heavy work "
    "is the one-pass weighted-edge build from the fact table. Its "
    "≤625 edges and the 25 nations are collected into one row and "
    "the iterations run there as one SQL higher-order-function "
    "program: one plan, no per-iteration job. That holds at every "
    "scale factor, because TPC-H fixes nation at 25 rows.",
    oracle=_pagerank_oracle(),
)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Imported here: at module level graphops would register its
    # queries ahead of this module's and reorder the registry.
    from .graphops import pagerank_frame, trade_pairs

    nation = table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = pagerank_frame(nodes, trade_pairs(spark, sf_dir), _PR_ITERS, _PR_SCALE)
    return ranks.join(
        F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
    ).select(
        F.col("node").alias("nationkey"),
        "n_name",
        F.col("rank").cast("bigint").alias("rank_int"),
        (F.col("rank").cast("double") / F.lit(float(_PR_SCALE))).alias("rank_share"),
    )


@register(
    "benford_audit",
    ops=("F13", "A9", "P5"),
    doc="Benford's-law first-digit audit over order prices — the "
    "fraud/synthetic-data screen: leading significant digit taken "
    "from the EXACT integer cents (string of a bigint — never "
    "double→string formatting, which engines render differently), "
    "observed share in exact ppm (n·1e6 DIV total), Benford expected "
    "share ln(1+1/d)/ln(10) rounded to 6 decimals, and the absolute "
    "deviation. One aggregate pass; the audit itself is 9 rows.",
    oracle="""
WITH digits AS (
  SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders
  WHERE o_totalprice > 0
),
cnt AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
SELECT d AS first_digit,
  CAST(n AS BIGINT) AS n,
  CAST((n * 1000000) // t.total AS BIGINT) AS observed_ppm,
  ROUND(LN(1.0 + 1.0 / d) / LN(10.0), 6) AS benford_share,
  abs(CAST(n AS DOUBLE) / t.total - ROUND(LN(1.0 + 1.0 / d) / LN(10.0), 6))
    AS abs_deviation
FROM cnt, tot t
""",
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("d")
        )
    )
    cnt = d.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(F.sum("n").cast("long").alias("total"))
    benford = F.round(F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0)), 6)
    return cnt.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        F.col("n").cast("long").alias("n"),
        F.expr("(n * 1000000) div total").cast("long").alias("observed_ppm"),
        benford.alias("benford_share"),
        F.abs(F.col("n").cast("double") / F.col("total") - benford).alias(
            "abs_deviation"
        ),
    )


#: Candidate sort keys evaluated by the layout advisor.
_RLE_KEYS = ("o_orderdate", "o_custkey")


@register(
    "layout_run_length",
    ops=("W14", "A3", "F5"),
    doc="Write-layout advisor, the sort-key companion to "
    "zorder_key_layout: for each candidate sort key, count the "
    "value runs o_orderstatus would form if the table were written "
    "sorted by (month, key) — runs = Σ[LAG IS DISTINCT FROM value] per month partition "
    "(the NULL lag counts each partition's first run) — and report the implied RLE compression ratio. "
    "Month-partitioned windows (the file-level sort a real writer "
    "does), so no global sort; output = candidate keys, not rows.",
    oracle=f"""
WITH base AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         o_orderdate, o_custkey, o_orderkey, o_orderstatus
  FROM orders
),
{','.join(f'''
r_{k} AS (
  SELECT month,
    CASE WHEN LAG(o_orderstatus) OVER (PARTITION BY month
           ORDER BY {k}, o_orderkey) IS DISTINCT FROM o_orderstatus
         THEN 1 ELSE 0 END AS is_break
  FROM base
),
s_{k} AS (
  SELECT '{k}' AS sort_key, COUNT(*) AS n_rows,
         CAST(SUM(is_break) AS BIGINT) AS n_runs
  FROM r_{k}
)''' for k in _RLE_KEYS)}
SELECT sort_key, n_rows, n_runs,
  CAST(n_rows AS DOUBLE) / n_runs AS avg_run_len
FROM (SELECT * FROM s_o_orderdate UNION ALL SELECT * FROM s_o_custkey)
""",
)
def layout_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
        "o_orderdate",
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
    )
    parts = []
    for k in _RLE_KEYS:
        w = Window.partitionBy("month").orderBy(k, "o_orderkey")
        breaks = base.select(
            F.when(
                ~F.lag("o_orderstatus").over(w).eqNullSafe(F.col("o_orderstatus")),
                1,
            )
            .otherwise(0)
            .alias("is_break")
        )
        parts.append(
            breaks.agg(
                F.lit(k).alias("sort_key"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("is_break").cast("long").alias("n_runs"),
            )
        )
    out = parts[0].unionAll(parts[1])
    return out.select(
        "sort_key",
        "n_rows",
        "n_runs",
        (F.col("n_rows").cast("double") / F.col("n_runs")).alias("avg_run_len"),
    )


#: Categorical columns profiled by category_entropy_profile.
_ENTROPY_COLS = ("o_orderpriority", "o_orderstatus")


@register(
    "category_entropy_profile",
    ops=("A1", "A9", "U1"),
    doc="Categorical distribution profiler, the information dual of "
    "column_profile: per categorical column, cardinality, Shannon "
    "entropy in nats (per-category ln rounded to 4 decimals before "
    "the exact-decimal multiply-accumulate — the perplexity recipe), "
    "Gini impurity from EXACT integer Σn², and the modal share in "
    "exact ppm. Flags near-constant columns (entropy ≈ 0) a skew "
    "planner should salt and near-uniform ones safe to hash-"
    "partition. One aggregate per column over counts, unioned; "
    "output = columns, not rows.",
    oracle=f"""
{' UNION ALL '.join(f'''
(WITH cnt AS (
  SELECT {c} AS v, COUNT(*) AS n FROM orders GROUP BY 1
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
SELECT '{c}' AS column_name,
  COUNT(*) AS n_categories,
  CAST(SUM(CAST(n * ROUND(LN(CAST(n AS DOUBLE) / t.total), 4)
                AS DECIMAL(28,8))) AS DOUBLE) / (-1.0 * MAX(t.total))
    AS entropy_nats,
  1.0 - CAST(SUM(n * n) AS DOUBLE) / (MAX(t.total) * MAX(t.total))
    AS gini_impurity,
  CAST((MAX(n) * 1000000) // MAX(t.total) AS BIGINT) AS modal_share_ppm
FROM cnt, tot t
GROUP BY t.total)''' for c in _ENTROPY_COLS)}
""",
)
def category_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    parts = []
    for c in _ENTROPY_COLS:
        cnt = o.groupBy(F.col(c).alias("v")).agg(F.count(F.lit(1)).alias("n"))
        tot = cnt.agg(F.sum("n").cast("long").alias("total"))
        j = cnt.crossJoin(F.broadcast(tot))
        term = F.col("n") * F.round(
            F.log(F.col("n").cast("double") / F.col("total")), 4
        )
        parts.append(
            j.agg(
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_categories"),
                (
                    F.sum(term.cast("decimal(28,8)")).cast("double")
                    / (F.lit(-1.0) * F.max("total"))
                ).alias("entropy_nats"),
                (
                    F.lit(1.0)
                    - F.sum(F.col("n") * F.col("n")).cast("double")
                    / (F.max("total") * F.max("total"))
                ).alias("gini_impurity"),
                F.expr("(max(n) * 1000000) div max(total)")
                .cast("long")
                .alias("modal_share_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "join_skew_advisor",
    ops=("A1", "A3", "O1", "P5"),
    doc="Join-skew advisor — the planning audit run before a big "
    "fact⋈fact join: per-key probe-side row counts (lineitem by "
    "l_orderkey) reduced to corpus skew stats (max/avg rows per key, "
    "skew factor) plus the top-5 heaviest keys, each carrying a "
    "strategy recommendation (broadcast when the build side is "
    "dimension-sized, salt when the key's share is > 10× the mean, "
    "plain shuffle otherwise). One hash agg + one 5-row sort; the "
    "decision CASE mirrors what AQE's skew-join handling would do, "
    "made inspectable.",
    oracle="""
WITH per_key AS (
  SELECT l_orderkey, COUNT(*) AS n_rows FROM lineitem GROUP BY 1
),
stats AS (
  SELECT COUNT(*) AS n_keys,
    CAST(MAX(n_rows) AS BIGINT) AS max_rows,
    CAST(SUM(n_rows) AS BIGINT) AS total_rows,
    CAST(MAX(n_rows) AS DOUBLE) / (CAST(SUM(n_rows) AS DOUBLE) / COUNT(*))
      AS skew_factor
  FROM per_key
),
build AS (SELECT COUNT(*) AS build_rows FROM orders),
top5 AS (
  SELECT l_orderkey, n_rows,
    ROW_NUMBER() OVER (ORDER BY n_rows DESC, l_orderkey) AS rnk
  FROM per_key
)
SELECT t.rnk, t.l_orderkey AS hot_key, CAST(t.n_rows AS BIGINT) AS key_rows,
  s.n_keys, s.max_rows, s.skew_factor, b.build_rows,
  CASE WHEN b.build_rows <= 100000 THEN 'broadcast'
       WHEN CAST(t.n_rows AS DOUBLE) * s.n_keys / s.total_rows > 10.0 THEN 'salt'
       ELSE 'shuffle' END AS advice
FROM top5 t, stats s, build b
WHERE t.rnk <= 5
""",
)
def join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem", spread=True)
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        (
            F.max("n_rows").cast("double")
            / (F.sum("n_rows").cast("double") / F.count(F.lit(1)))
        ).alias("skew_factor"),
    )
    build = table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("build_rows")
    )
    # Scale-safe top-k (r10): orderBy+limit (TakeOrderedAndProject)
    # replaces a global row_number window over every join key; the
    # rank is rebuilt over the 5 survivors — identical under the total
    # (n_rows desc, l_orderkey) order.
    top5 = (
        per_key.orderBy(F.desc("n_rows"), "l_orderkey")
        .limit(5)
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("n_rows"), "l_orderkey")),
        )
    )
    return (
        top5.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(build))
        .select(
            "rnk",
            F.col("l_orderkey").alias("hot_key"),
            F.col("n_rows").cast("bigint").alias("key_rows"),
            "n_keys",
            "max_rows",
            "skew_factor",
            "build_rows",
            F.when(F.col("build_rows") <= 100_000, F.lit("broadcast"))
            .when(
                F.col("n_rows").cast("double") * F.col("n_keys") / F.col("total_rows")
                > 10.0,
                F.lit("salt"),
            )
            .otherwise(F.lit("shuffle"))
            .alias("advice"),
        )
    )


def _ring_case(n_shards: int, vnodes: int = 8) -> str:
    """Consistent-hash ring as one branchy CASE expression, identical
    SQL text in Spark and DuckDB: vnode positions are md5-derived
    48-bit constants computed driver-side (pure Python hashlib — no
    data dependence), sorted ascending; a key owned by the first vnode
    position ≥ its hash, wrapping to the ring's first vnode."""
    import hashlib as _hl

    ring = sorted(
        (
            int(_hl.md5(f"ring:{s}:{v}".encode()).hexdigest()[:12], 16),
            s,
        )
        for s in range(n_shards)
        for v in range(vnodes)
    )
    arms = "\n".join(
        f"WHEN _hk <= {pos} THEN {shard}" for pos, shard in ring
    )
    return f"CASE {arms} ELSE {ring[0][1]} END"


@register(
    "consistent_hash_shards",
    ops=("A1", "A9", "P5", "F12"),
    doc="Consistent-hash shard assignment with virtual nodes — the "
    "layout primitive behind shard-stable corpus storage: 8 shards × "
    "8 vnodes on a 48-bit md5 ring, each document owned by the next "
    "vnode clockwise. Reports per-shard balance AND the rebalance "
    "cost of adding a 9th shard: only keys whose ring successor is a "
    "new vnode move (every move lands on the new shard — the defining "
    "consistent-hashing property, ~1/9 expected movement vs ~8/9 for "
    "mod-N resharding). The ring is a driver-side constant folded "
    "into one codegen CASE — no join, one corpus scan.",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id,
    CAST('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS _hk
  FROM documents
),
assigned AS (
  SELECT doc_id, {_ring_case(8)} AS shard, {_ring_case(9)} AS shard_after
  FROM keyed
),
tot AS (SELECT COUNT(*) AS n FROM assigned)
SELECT shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS DOUBLE) / t.n AS share,
  CAST(COUNT(CASE WHEN shard <> shard_after THEN 1 END) AS BIGINT) AS n_moved,
  CAST(COUNT(CASE WHEN shard <> shard_after AND shard_after <> 8 THEN 1 END) AS BIGINT)
    AS n_moved_elsewhere
FROM assigned, tot t
GROUP BY shard, t.n
""",
)
def consistent_hash_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    hk = F.conv(
        F.substring(F.md5(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    assigned = d.select(
        "doc_id",
        hk.alias("_hk"),
    ).select(
        "doc_id",
        F.expr(_ring_case(8)).alias("shard"),
        F.expr(_ring_case(9)).alias("shard_after"),
    )
    tot = assigned.agg(F.count(F.lit(1)).alias("n"))
    moved = F.count(F.when(F.col("shard") != F.col("shard_after"), 1))
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("shard", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.count(F.lit(1)).cast("double") / F.first("n")).alias("share"),
            moved.cast("bigint").alias("n_moved"),
            F.count(
                F.when(
                    (F.col("shard") != F.col("shard_after"))
                    & (F.col("shard_after") != 8),
                    1,
                )
            )
            .cast("bigint")
            .alias("n_moved_elsewhere"),
        )
        .drop("n")
    )


#: Known-good enumerations for the contract audit.
_CONTRACT_LANGS = ("en", "es", "de", "fr", "zh")


@register(
    "data_contract_validator",
    ops=("A1", "A5", "J2", "U1"),
    doc="Data-contract audit (the expectation-suite pattern): each "
    "contract rule — range checks, enum membership, derived-column "
    "consistency, referential integrity — compiles to one conditional "
    "aggregate over its table, multiple rules per table share one "
    "scan, and the FK rule is a broadcast anti-join count. One row "
    "per rule with checked/violation counts and a pass verdict; at "
    "100 TB the audit costs one pass per table regardless of how "
    "many rules the contract carries.",
    oracle=f"""
SELECT 'orders.totalprice_positive' AS rule_id, 'orders' AS table_name,
  COUNT(*) AS n_checked,
  COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS n_violations,
  COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'orders.custkey_fk_customer', 'orders', COUNT(*),
  COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END),
  COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) = 0
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem.quantity_range', 'lineitem', COUNT(*),
  COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END),
  COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem.discount_unit_interval', 'lineitem', COUNT(*),
  COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END),
  COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'documents.lang_enum', 'documents', COUNT(*),
  COUNT(CASE WHEN lang NOT IN ({", ".join(f"'{x}'" for x in _CONTRACT_LANGS)}) THEN 1 END),
  COUNT(CASE WHEN lang NOT IN ({", ".join(f"'{x}'" for x in _CONTRACT_LANGS)}) THEN 1 END) = 0
FROM documents
UNION ALL
SELECT 'documents.n_chars_consistent', 'documents', COUNT(*),
  COUNT(CASE WHEN n_chars <> length(text) THEN 1 END),
  COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) = 0
FROM documents
""",
)
def data_contract_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders", spread=True)
    li = table(spark, sf_dir, "lineitem", spread=True)
    c = table(spark, sf_dir, "customer")
    d = table(spark, sf_dir, "documents")

    def rule(df, rule_id, tbl, viol_cond):
        n_viol = F.count(F.when(viol_cond, 1))
        return df.agg(
            F.count(F.lit(1)).alias("n_checked"),
            n_viol.alias("n_violations"),
            (n_viol == 0).alias("passed"),
        ).select(
            F.lit(rule_id).alias("rule_id"),
            F.lit(tbl).alias("table_name"),
            "n_checked",
            "n_violations",
            "passed",
        )

    fk = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == F.col("c_custkey"),
        "left",
    )
    frames = [
        rule(o, "orders.totalprice_positive", "orders", F.col("o_totalprice") <= 0),
        rule(fk, "orders.custkey_fk_customer", "orders", F.col("c_custkey").isNull()),
        rule(
            li,
            "lineitem.quantity_range",
            "lineitem",
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
        ),
        rule(
            li,
            "lineitem.discount_unit_interval",
            "lineitem",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        ),
        rule(
            d,
            "documents.lang_enum",
            "documents",
            ~F.col("lang").isin(*_CONTRACT_LANGS),
        ),
        rule(
            d,
            "documents.n_chars_consistent",
            "documents",
            F.col("n_chars") != F.length("text"),
        ),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


#: Integer HITS: hub/authority scores L1-normalized to 10^6 each
#: iteration. The 10^6 scale (vs PageRank's 10^12) keeps the
#: un-normalized update Σw·score and its ×SCALE renormalization inside
#: int64 even on the ×8 corpus (Σw·max_score ≤ 6e12, ×1e6 ≤ 6e18); at
#: larger edge weights move the multiply to DECIMAL(38,0).
_HITS_SCALE = 1_000_000
_HITS_ITERS = 4


def _hits_oracle() -> str:
    # MATERIALIZED: DuckDB inlines plain CTEs, so each of the 16
    # iteration joins would re-run the 4-way fact join — at ×8 that
    # OOMed the 48 GB oracle cap. The edge list is ≤ 25×25 rows;
    # computing it once is the point.
    ctes = [
        """edges AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)""",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"a0 AS (SELECT node, {_HITS_SCALE} // n AS a FROM nodes, nn)",
    ]
    for i in range(1, _HITS_ITERS + 1):
        ctes.extend((
            f"""hraw{i} AS (
  SELECT nd.node,
    CAST(COALESCE(SUM(e.w * a.a), 0) AS BIGINT) AS raw
  FROM nodes nd
  LEFT JOIN edges e ON nd.node = e.src
  LEFT JOIN a{i - 1} a ON e.dst = a.node
  GROUP BY nd.node
)""",
            f"ht{i} AS (SELECT SUM(raw) AS tot FROM hraw{i})",
            f"""h{i} AS (
  SELECT node,
    CASE WHEN tot = 0 THEN 0 ELSE (raw * {_HITS_SCALE}) // tot END AS h
  FROM hraw{i}, ht{i}
)""",
            f"""araw{i} AS (
  SELECT nd.node,
    CAST(COALESCE(SUM(e.w * h.h), 0) AS BIGINT) AS raw
  FROM nodes nd
  LEFT JOIN edges e ON nd.node = e.dst
  LEFT JOIN h{i} h ON e.src = h.node
  GROUP BY nd.node
)""",
            f"at{i} AS (SELECT SUM(raw) AS tot FROM araw{i})",
            f"""a{i} AS (
  SELECT node,
    CASE WHEN tot = 0 THEN 0 ELSE (raw * {_HITS_SCALE}) // tot END AS a
  FROM araw{i}, at{i}
)""",
        ))
    last = _HITS_ITERS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT h.node AS nationkey, n.n_name,
  CAST(h.h AS BIGINT) AS hub_int,
  CAST(a.a AS BIGINT) AS auth_int,
  CAST(h.h AS DOUBLE) / {_HITS_SCALE} AS hub_share,
  CAST(a.a AS DOUBLE) / {_HITS_SCALE} AS auth_share
FROM h{last} h JOIN a{last} a ON h.node = a.node
JOIN nation n ON h.node = n.n_nationkey
"""
    )


@register(
    "hits_trade_graph",
    ops=("J4", "A11", "A3"),
    doc="HITS hubs & authorities over the supplier-nation → "
    "customer-nation trade graph (weighted by line count): hubs are "
    "strong exporters (their mass flows to well-imported nations), "
    "authorities strong importers — the complementary centrality to "
    "nation_trade_pagerank, from Kleinberg's mutual-reinforcement "
    "recursion. 4 alternating power iterations in EXACT integer "
    "arithmetic, L1-normalized to a 10^6 scale each half-step — "
    "float HITS is partition-order-dependent; integer division makes "
    "every iteration bitwise-reproducible on any cluster. The heavy "
    "work is the one-pass weighted-edge build (shared with "
    "pagerank). Its ≤625 edges and the 25 nations are collected into "
    "one row and the 8 half-steps run there as one SQL "
    "higher-order-function program: one plan, no per-step job, at "
    "every scale factor (TPC-H fixes nation at 25 rows).",
    oracle=_hits_oracle(),
)
def hits_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graphops import hits_frame, trade_pairs

    nation = table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    scores = hits_frame(nodes, trade_pairs(spark, sf_dir), _HITS_ITERS, _HITS_SCALE)
    return scores.join(
        F.broadcast(nation), scores["node"] == nation["n_nationkey"]
    ).select(
        F.col("node").alias("nationkey"),
        "n_name",
        F.col("hub").cast("bigint").alias("hub_int"),
        F.col("auth").cast("bigint").alias("auth_int"),
        (F.col("hub").cast("double") / F.lit(float(_HITS_SCALE))).alias("hub_share"),
        (F.col("auth").cast("double") / F.lit(float(_HITS_SCALE))).alias("auth_share"),
    )


#: Snapshot cutoff for the incremental-view-maintenance demo: orders
#: before the cutoff are the materialized base; the rest arrive as the
#: delta batch.
_IVM_CUTOFF = "1999-01-01"


@register(
    "ivm_join_view_delta",
    ops=("S10", "J1", "A3", "U1"),
    doc="Incremental maintenance of a JOIN view (the delta-propagation "
    "step mv_incremental_refresh's aggregate-only path doesn't "
    "cover): the materialized base aggregates orders⋈customer per "
    "nation for orders before the cutoff; the delta batch (orders "
    "arriving after) is joined ALONE against the dimension "
    "(Δorders⋈customer — the algebraic delta rule for a key-FK "
    "join) and merged into the base by a full-outer coalescing "
    "union-aggregate. The driver's hash gate proves maintained ≡ "
    "recomputed: the oracle computes the view from scratch over the "
    "full table, so any divergence between delta propagation and "
    "recompute fails the row hash. Sums are decimal-exact; the "
    "delta pass scans ONLY the new partition — the 100 TB refresh "
    "never touches settled history.",
    oracle=f"""
SELECT c.c_nationkey AS nation, n.n_name,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  {N.sql_dsum('o.o_totalprice')} AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
""",
)
def ivm_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nation"), "n_name"
    )

    def view_agg(orders: DataFrame) -> DataFrame:
        return (
            orders.join(F.broadcast(c), orders["o_custkey"] == c["c_custkey"])
            .groupBy(F.col("c_nationkey").alias("nation"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast(N.DEC)).alias("rev_dec"),
            )
        )

    base = view_agg(o.filter(F.col("o_orderdate") < cutoff))
    delta = view_agg(o.filter(F.col("o_orderdate") >= cutoff))
    # Merge step: the base and the delta aggregate are unioned and
    # re-aggregated — the standard mergeable-partial IVM apply; decimal
    # partial sums merge exactly, so maintained == recomputed bitwise.
    maintained = (
        base.unionByName(delta)
        .groupBy("nation")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("rev_dec").alias("rev_dec"),
        )
    )
    return maintained.join(F.broadcast(nation), "nation").select(
        "nation",
        "n_name",
        "n_orders",
        F.col("rev_dec").cast("double").alias("revenue"),
    )


#: Fan-out of the synthetic customer hierarchy (parent = custkey DIV 7).
HIER_FANOUT = 7


@register(
    "hierarchy_closure_rollup",
    ops=("J4", "A1", "A3", "A11"),
    doc="Recursive-hierarchy rollup WITHOUT a recursive CTE (Spark has "
    "none): a synthetic reporting tree over customers (parent = "
    "custkey div 7, custkeys 0..6 are roots) is resolved to "
    "(node → root, depth) by POINTER DOUBLING — the jump table "
    "starts as the parent map with self-loops at roots and is "
    "squared 4 times, so 4 self-equi-joins reach any depth ≤ 16 "
    "(ceil(log2 depth) joins, each co-partitionable on the join "
    "key; a row-by-row loop would need depth iterations). Steps "
    "compose additively with 0-cost self-loops, so the step sum IS "
    "the true depth. Rollup then aggregates each root's subtree: "
    "size, decimal-exact balance, deepest leaf. The DuckDB oracle "
    "is the plain WITH RECURSIVE walk — same rows, engine-idiomatic "
    "each side.",
    oracle=f"""
WITH RECURSIVE walk AS (
  SELECT c_custkey AS node, c_custkey AS anc, 0 AS d FROM customer
  UNION ALL
  SELECT node, anc // {HIER_FANOUT}, d + 1 FROM walk
  WHERE anc >= {HIER_FANOUT}
),
resolved AS (
  SELECT node, anc AS root, d AS depth FROM walk WHERE anc < {HIER_FANOUT}
)
SELECT r.root,
  CAST(COUNT(*) AS BIGINT) AS subtree_size,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS subtree_balance,
  CAST(MAX(r.depth) AS BIGINT) AS max_depth
FROM resolved r JOIN customer c ON r.node = c.c_custkey
GROUP BY 1
""",
)
def hierarchy_closure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer", spread=True)
    # Jump table J1: parent pointer, self-loop (0 steps) at roots.
    # PINNED (r11, guide §1.2/§6): unpinned, the 4 squaring self-joins
    # expand to a join tree with 2^4 = 16 leaf scans of customer (plus
    # the rollup join's 17th) — a 17× scan-byte multiplier at any
    # scale. Pinning each level makes every squaring ONE join of two
    # reads of the previous materialization: customer is scanned once,
    # 4 joins total instead of 15. The rollup payload (c_acctbal) rides
    # the a-side of each squaring (8 bytes/row across 4 node-keyed
    # shuffles), which removes the final join-back against customer
    # entirely.
    j = _pin(
        c.select(
            F.col("c_custkey").alias("node"),
            F.when(
                F.col("c_custkey") >= HIER_FANOUT,
                F.expr(f"c_custkey DIV {HIER_FANOUT}"),
            )
            .otherwise(F.col("c_custkey"))
            .alias("target"),
            F.when(F.col("c_custkey") >= HIER_FANOUT, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("steps"),
            F.col("c_acctbal").alias("bal"),
        )
    )
    # Square 4 times: J2 = J1∘J1, ... J16 — every node's target is its
    # root once 2^k exceeds the tree depth (roots are fixpoints, so
    # overshooting composes 0-step self-loops). The b-side needs only
    # the pointer columns (project before the exchange, guide §2.3).
    for i in range(4):
        a = j.alias("a")
        b = j.select("node", "target", "steps").alias("b")
        j = a.join(b, F.col("a.target") == F.col("b.node")).select(
            F.col("a.node").alias("node"),
            F.col("b.target").alias("target"),
            (F.col("a.steps") + F.col("b.steps")).alias("steps"),
            F.col("a.bal").alias("bal"),
        )
        if i < 3:
            j = _pin(j)
    return (
        j.groupBy(F.col("target").alias("root"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("subtree_size"),
            F.sum(F.col("bal").cast(N.DEC))
            .cast("double")
            .alias("subtree_balance"),
            F.max("steps").cast("bigint").alias("max_depth"),
        )
    )


@register(
    "cdc_apply_changes",
    ops=("J2", "U1", "A5", "S4"),
    doc="MERGE INTO semantics applied as relational algebra (Spark "
    "batch has no MERGE without a lakehouse format): a synthetic "
    "change feed over the orders snapshot — inserts (key%10=0, the "
    "rows held out of the base), deletes (key%13=0), updates "
    "(key%7=0, +1000.00 price adjustment), precedence I>D>U fixed "
    "by one CASE — is applied as base⟕anti(del∪upd) ∪ updated ∪ "
    "inserted, the inverse of snapshot_diff_cdc. Emits the merged "
    "state per order status (rowcount + decimal-exact revenue) with "
    "the applied I/U/D tallies carried on every row, so the oracle "
    "hash certifies BOTH the final state and the change accounting. "
    "All joins are keyed on the merge key — co-partitionable; at "
    "scale this is one shuffle join + one union-aggregate.",
    oracle="""
WITH base AS (
  SELECT * FROM orders WHERE o_orderkey % 10 <> 0
),
feed AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 10 = 0 THEN 'I'
         WHEN o_orderkey % 13 = 0 THEN 'D'
         WHEN o_orderkey % 7 = 0 THEN 'U' END AS op,
    o_orderstatus, o_totalprice
  FROM orders
  WHERE o_orderkey % 10 = 0 OR o_orderkey % 13 = 0 OR o_orderkey % 7 = 0
),
merged AS (
  SELECT b.o_orderstatus, b.o_totalprice
  FROM base b LEFT JOIN feed f ON b.o_orderkey = f.k AND f.op IN ('D', 'U')
  WHERE f.k IS NULL
  UNION ALL
  SELECT b.o_orderstatus, b.o_totalprice + 1000.0
  FROM base b JOIN feed f ON b.o_orderkey = f.k AND f.op = 'U'
  UNION ALL
  SELECT o_orderstatus, o_totalprice FROM feed WHERE op = 'I'
),
tallies AS (
  SELECT
    SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS n_ins,
    SUM(CASE WHEN f.op = 'U' AND b.o_orderkey IS NOT NULL
             THEN 1 ELSE 0 END) AS n_upd,
    SUM(CASE WHEN f.op = 'D' AND b.o_orderkey IS NOT NULL
             THEN 1 ELSE 0 END) AS n_del
  FROM feed f LEFT JOIN base b ON f.k = b.o_orderkey
)
SELECT m.o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(m.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
  CAST(t.n_ins AS BIGINT) AS n_inserted,
  CAST(t.n_upd AS BIGINT) AS n_updated,
  CAST(t.n_del AS BIGINT) AS n_deleted
FROM merged m, tallies t
GROUP BY m.o_orderstatus, t.n_ins, t.n_upd, t.n_del
""",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders", spread=True)
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    feed = o.filter(
        (F.col("o_orderkey") % 10 == 0)
        | (F.col("o_orderkey") % 13 == 0)
        | (F.col("o_orderkey") % 7 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 10 == 0, "I")
        .when(F.col("o_orderkey") % 13 == 0, "D")
        .when(F.col("o_orderkey") % 7 == 0, "U")
        .alias("op"),
        "o_orderstatus",
        "o_totalprice",
    )
    touch = feed.filter(F.col("op").isin("D", "U")).select("k")
    untouched = base.join(
        touch, base["o_orderkey"] == touch["k"], "left_anti"
    ).select("o_orderstatus", "o_totalprice")
    updated = base.join(
        feed.filter(F.col("op") == "U").select("k"),
        base["o_orderkey"] == F.col("k"),
    ).select(
        "o_orderstatus", (F.col("o_totalprice") + 1000.0).alias("o_totalprice")
    )
    inserted = feed.filter(F.col("op") == "I").select(
        "o_orderstatus", "o_totalprice"
    )
    merged = untouched.unionByName(updated).unionByName(inserted)
    base_keys = base.select(F.col("o_orderkey").alias("bk"))
    tallies = (
        feed.join(base_keys, feed["k"] == F.col("bk"), "left")
        .agg(
            F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_ins"),
            F.sum(
                F.when(
                    (F.col("op") == "U") & F.col("bk").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_upd"),
            F.sum(
                F.when(
                    (F.col("op") == "D") & F.col("bk").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_del"),
        )
    )
    return (
        merged.crossJoin(F.broadcast(tallies))
        .groupBy("o_orderstatus", "n_ins", "n_upd", "n_del")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast(N.DEC))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            "o_orderstatus",
            "n_rows",
            "total_price",
            F.col("n_ins").cast("bigint").alias("n_inserted"),
            F.col("n_upd").cast("bigint").alias("n_updated"),
            F.col("n_del").cast("bigint").alias("n_deleted"),
        )
    )


@register(
    "observe_pipeline_metrics",
    ops=("A12", "A1", "A3", "J10"),
    doc="Pipeline observability via DataFrame.observe(): data-quality "
    "metrics (row count, null-key count, decimal-exact revenue "
    "total) are attached to the LOAD plan as observation "
    "accumulators and collected as a side effect of the one "
    "materializing action — no second scan, unlike a separate "
    "validation query (the standard pattern for emitting load "
    "metrics to a monitoring bus at 100 TB; data_contract_validator "
    "is the rescanning twin). The observed scalars are stamped "
    "onto every row of the grouped result so the oracle certifies "
    "both the aggregate AND the metrics channel.",
    oracle=f"""
WITH tot AS (
  SELECT COUNT(*) AS obs_total_rows,
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS obs_null_keys,
    {N.sql_dsum("o_totalprice")} AS obs_total_revenue
  FROM orders
)
SELECT o.o_orderstatus,
  COUNT(*) AS n_orders,
  {N.sql_dsum("o.o_totalprice")} AS revenue,
  CAST(t.obs_total_rows AS BIGINT) AS obs_total_rows,
  CAST(t.obs_null_keys AS BIGINT) AS obs_null_keys,
  t.obs_total_revenue
FROM orders o CROSS JOIN tot t
GROUP BY 1, 4, 5, 6
""",
)
def observe_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    obs = Observation()
    # Every metric is coalesced: on an empty batch SUM is NULL and a
    # NULL observation row trips the py4j row converter.
    base = table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("obs_total_rows"),
        F.coalesce(
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            F.lit(0),
        ).alias("obs_null_keys"),
        F.coalesce(N.dsum("o_totalprice"), F.lit(0.0)).alias(
            "obs_total_revenue"
        ),
    )
    result = (
        base.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            N.dsum("o_totalprice").alias("revenue"),
        )
        # Eager materialization drives the observed plan so the
        # accumulators are filled exactly once, here.
        .localCheckpoint()
    )
    try:
        m = obs.get
    except Exception:
        # A zero-row-group parquet source schedules NO tasks, so the
        # observation accumulators never produce a metrics row (the
        # py4j row conversion asserts). Empty load == all-zero metrics.
        m = {"obs_total_rows": 0, "obs_null_keys": 0, "obs_total_revenue": 0.0}
    return result.select(
        "o_orderstatus",
        "n_orders",
        "revenue",
        F.lit(int(m["obs_total_rows"])).cast("bigint").alias("obs_total_rows"),
        F.lit(int(m["obs_null_keys"])).cast("bigint").alias("obs_null_keys"),
        F.lit(float(m["obs_total_revenue"])).alias("obs_total_revenue"),
    )


@register(
    "recursive_cte_hierarchy",
    ops=("J4", "A1", "A3", "A11"),
    doc="NATIVE recursive CTE (Spark 4 WITH RECURSIVE) resolving the "
    "same customer reporting tree as hierarchy_closure_rollup — "
    "that operator's pointer-doubling exists because earlier Spark "
    "had no recursion; this one certifies the engine-native "
    "spelling against the identical DuckDB recursion, and the pair "
    "documents the scale tradeoff (recursion = depth iterations of "
    "the full frontier; pointer doubling = log₂(depth) self-joins). "
    "Decimal-exact subtree balances.",
    oracle=f"""
WITH RECURSIVE walk AS (
  SELECT c_custkey AS node, c_custkey AS anc, 0 AS d FROM customer
  UNION ALL
  SELECT node, anc // {HIER_FANOUT}, d + 1 FROM walk
  WHERE anc >= {HIER_FANOUT}
),
resolved AS (
  SELECT node, anc AS root, d AS depth FROM walk WHERE anc < {HIER_FANOUT}
)
SELECT r.root,
  CAST(COUNT(*) AS BIGINT) AS subtree_size,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS subtree_balance,
  CAST(MAX(r.depth) AS BIGINT) AS max_depth
FROM resolved r JOIN customer c ON r.node = c.c_custkey
GROUP BY 1
""",
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "customer").createOrReplaceTempView(
        "tdps_rec_customer"
    )
    return spark.sql(
        f"""
        WITH RECURSIVE walk AS (
          SELECT c_custkey AS node, c_custkey AS anc, 0 AS d
          FROM tdps_rec_customer
          UNION ALL
          SELECT node, anc DIV {HIER_FANOUT}, d + 1 FROM walk
          WHERE anc >= {HIER_FANOUT}
        ),
        resolved AS (
          SELECT node, anc AS root, d AS depth FROM walk
          WHERE anc < {HIER_FANOUT}
        )
        SELECT r.root,
          CAST(COUNT(*) AS BIGINT) AS subtree_size,
          CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
            AS subtree_balance,
          CAST(MAX(r.depth) AS BIGINT) AS max_depth
        FROM resolved r JOIN tdps_rec_customer c ON r.node = c.c_custkey
        GROUP BY 1
        """
    )


@register(
    "sql_scripting_batch",
    ops=("S8", "A3", "A1", "P5"),
    doc="SQL scripting (Spark 4 BEGIN…END compound): a WHILE loop "
    "doubles a bucket cap until it clears MAX(o_totalprice), then "
    "the final statement reports per-status rowcounts with the "
    "loop-computed power-of-two cap stamped on every row — "
    "procedural control flow inside the engine, replacing the "
    "driver-side Python loop (the reference's psql scripts run "
    "this shape in plpgsql). All integer loop arithmetic; the "
    "DuckDB twin computes the same cap by a recursive doubling "
    "CTE, so no log2/pow libm anywhere.",
    oracle="""
WITH RECURSIVE p(v) AS (
  SELECT CAST(1 AS BIGINT)
  UNION ALL
  SELECT v * 2 FROM p WHERE v <= (SELECT MAX(o_totalprice) FROM orders)
),
cap AS (SELECT MAX(v) AS pow2_cap FROM p)
SELECT o.o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
  c.pow2_cap
FROM orders o CROSS JOIN cap c
GROUP BY 1, 4
""",
)
def sql_scripting_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "tdps_script_orders"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE cap DOUBLE;
          DECLARE bucket BIGINT DEFAULT 1;
          SET cap = (SELECT MAX(o_totalprice) FROM tdps_script_orders);
          WHILE bucket <= cap DO
            SET bucket = bucket * 2;
          END WHILE;
          SELECT o_orderstatus,
            COUNT(*) AS n_orders,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
              AS revenue,
            bucket AS pow2_cap
          FROM tdps_script_orders
          GROUP BY o_orderstatus;
        END
        """
    )
