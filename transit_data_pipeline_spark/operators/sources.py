"""Source/sink and scalar-function operators completing SURVEY §2:
CSV source+sink roundtrip (S1/S7), SQL-over-views (S2), append sinks
(S3/S5/S6), declared-schema bootstrap (S8), materialized-view refresh
(D2/S10 refresh path), the GTFS time parser as a registry query
(D1/F2/F11), TRIM + padded day names (F9/F14), and LIMIT-without-ORDER
sampling (O5).

Sinks write under the system temp dir (never the read-only testdata),
namespaced per sf_dir so concurrent runs at different scale factors
don't collide. Every sink demo reads its own output back so the oracle
checks the full write→read path, not just the transform.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import table
from ..functions import numeric as N
from ..gtfs import schemas as GS
from ..gtfs.ingest import gtfs_time_to_seconds
from .registry import register


def _scratch(sf_dir: str, tag: str) -> str:
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"tdps_{tag}_{h}")


def _caller_properties(spark: SparkSession):
    """Thread-pool initializer that gives each worker thread its own copy
    of the calling thread's local properties (job group, scheduler pool),
    so the pool's jobs belong to the caller's job group."""
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()
    return lambda: jsc.setLocalProperties(props.clone())


@register(
    "csv_roundtrip",
    ops=("S1", "S7"),
    doc="CSV sink then CSV source with a declared schema and NULL AS '' "
    "(ref COPY `load_gtfs_data.sql:2-84`, to_csv `predict_delays.py:186`): "
    "nation written to CSV and read back must equal the parquet original.",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "csv")
    nation = table(spark, sf_dir, "nation")
    # coalesce(1): dimension-sized sink, one file like the reference's
    # single-CSV export; big tables would keep their partitioning.
    nation.coalesce(1).write.mode("overwrite").csv(out, header=True, nullValue="")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.csv(out, header=True, schema=schema, nullValue="")


@register(
    "append_sink_roundtrip",
    ops=("S3", "S5", "S6"),
    doc="INSERT-SELECT bulk append (`load_gtfs_data.sql:119-239`) plus "
    "batched row insert (`generate_synthetic_data.py:337,360`) and the "
    "row-at-a-time prediction sink (`predict_delays.py:428-441`) — all "
    "three become append-mode writes; read back and aggregated.",
    oracle=f"""
WITH sunk AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT * FROM (VALUES
    (CAST(-1 AS BIGINT), CAST(1.5 AS DOUBLE)),
    (CAST(-2 AS BIGINT), CAST(2.5 AS DOUBLE)),
    (CAST(-3 AS BIGINT), CAST(3.5 AS DOUBLE))
  ) AS t(o_orderkey, o_totalprice)
)
SELECT COUNT(*) AS n_rows, {N.sql_dsum("o_totalprice")} AS total_price,
       MIN(o_orderkey) AS min_key
FROM sunk
""",
)
def append_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "append")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
    )
    urgent.write.mode("overwrite").parquet(out)  # S3: bulk INSERT-SELECT
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    batch = spark.createDataFrame(
        [(-1, 1.5), (-2, 2.5), (-3, 3.5)], schema
    )  # S5/S6: row batches become one distributed append, never per-row
    batch.write.mode("append").parquet(out)
    back = spark.read.parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        N.dsum("o_totalprice").alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
    )


#: One ANSI-SQL text that both Spark SQL and DuckDB execute verbatim —
#: the S2 "push a SQL string at the engine" path (ref pd.read_sql sites
#: `train_delay_model.py:127`, `streamlit_dashboard.py:29`).
_SEGMENT_SQL = f"""
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o.o_totalprice")} AS segment_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register(
    "sql_over_views",
    ops=("S2", "S9"),
    doc="SQL-string entry path: temp views registered, one ANSI query "
    "text executed verbatim by BOTH Spark SQL and the DuckDB oracle.",
    oracle=_SEGMENT_SQL,
)
def sql_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SEGMENT_SQL)


#: The declared-schema registry (S8). The oracle literal is generated
#: from the same StructTypes, so code and oracle cannot drift.
_GTFS_SCHEMAS: dict[str, T.StructType] = {
    "stops": GS.STOPS_RAW,
    "routes": GS.ROUTES_RAW,
    "trips": GS.TRIPS_RAW,
    "stop_times": GS.STOP_TIMES_RAW,
    "calendar": GS.CALENDAR_RAW,
    "weather": GS.WEATHER,
    "delay_events": GS.DELAY_EVENTS,
}


def _schema_rows() -> list[tuple[str, int, int, int]]:
    rows = []
    for name in sorted(_GTFS_SCHEMAS):
        st = _GTFS_SCHEMAS[name]
        n_str = sum(isinstance(f.dataType, T.StringType) for f in st.fields)
        n_num = sum(
            isinstance(f.dataType, (T.IntegerType, T.LongType, T.DoubleType, T.DecimalType))
            for f in st.fields
        )
        rows.append((name, len(st.fields), n_str, n_num))
    return rows


_SCHEMA_VALUES = ",\n  ".join(
    f"('{n}', {a}, {b}, {c})" for n, a, b, c in _schema_rows()
)


@register(
    "schema_bootstrap",
    ops=("S8",),
    doc="Fixed-DDL registry (ref CREATE TABLE ×18 `create_schema.sql:8-176`): "
    "every table has a declared StructType; this reports the registry "
    "shape and proves empty-table bootstrap off each schema works.",
    oracle=f"""
SELECT * FROM (VALUES
  {_SCHEMA_VALUES}
) AS t(table_name, n_columns, n_string_cols, n_numeric_cols)
""",
)
def schema_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for name, n_cols, n_str, n_num in _schema_rows():
        empty = spark.createDataFrame([], _GTFS_SCHEMAS[name])  # bootstrap
        assert empty.schema == _GTFS_SCHEMAS[name]
        rows.append((name, n_cols, n_str, n_num))
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType()),
            T.StructField("n_columns", T.IntegerType()),
            T.StructField("n_string_cols", T.IntegerType()),
            T.StructField("n_numeric_cols", T.IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "mv_refresh",
    ops=("D2", "S10"),
    doc="refresh_all_views() (`performance_optimization.sql:83-91`): the "
    "three 'materialized views' recomputed and overwritten as parquet, "
    "then read back and inventoried — refresh is a rerun, not mutation.",
    oracle="""
SELECT 'daily_orders' AS view_name,
       (SELECT COUNT(DISTINCT o_orderdate) FROM orders) AS n_rows
UNION ALL
SELECT 'monthly_revenue',
       (SELECT COUNT(DISTINCT date_trunc('month', o_orderdate)) FROM orders)
UNION ALL
SELECT 'priority_summary',
       (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
""",
)
def mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    views = {
        "daily_orders": o.groupBy("o_orderdate").agg(
            F.count(F.lit(1)).alias("n_orders"),
            N.dsum("o_totalprice").alias("revenue"),
        ),
        "monthly_revenue": o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month")
        ).agg(N.dsum("o_totalprice").alias("revenue")),
        "priority_summary": o.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders")
        ),
    }
    # The three view refreshes are independent write→read-back jobs;
    # run them from a small thread pool so each job's task tail is
    # back-filled by the next job instead of idling the cluster
    # (guide §2.6). pool.map preserves the declared view order, so the
    # result rows are byte-identical to the sequential spelling.
    from concurrent.futures import ThreadPoolExecutor

    def _refresh(item: tuple) -> tuple:
        name, df = item
        # try/finally so an exception can't leave the description set
        # on a reused pool thread (ADVICE r10).
        spark.sparkContext.setJobDescription(f"mv_refresh:{name}")
        try:
            out = os.path.join(_scratch(sf_dir, "mv"), name)
            df.write.mode("overwrite").parquet(out)
            return (name, spark.read.parquet(out).count())
        finally:
            spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(3, initializer=_caller_properties(spark)) as pool:
        rows = list(pool.map(_refresh, views.items()))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("view_name", T.StringType()),
                T.StructField("n_rows", T.LongType()),
            ]
        ),
    )


@register(
    "gtfs_time_parse",
    ops=("D1", "F2", "F11"),
    doc="The plpgsql GTFS time parser (`create_schema.sql:199-221`) as a "
    "pure column expression: 'HH:MM:SS' with HH ≥ 24 → integer seconds, "
    "NULL on malformed; service hour/day-roll via integer arithmetic "
    "(the make_interval / EXTRACT(EPOCH) replacement), all codegen-able.",
    oracle="""
WITH built AS (
  SELECT o_orderkey,
         o_orderkey % 172800 AS secs,
         CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch_s,
    CASE WHEN o_orderkey % 13 = 0
         THEN 'bad:' || CAST(o_orderkey % 172800 AS VARCHAR)
         ELSE lpad(CAST((o_orderkey % 172800) // 3600 AS VARCHAR), 2, '0')
              || ':' || lpad(CAST(((o_orderkey % 172800) % 3600) // 60 AS VARCHAR), 2, '0')
              || ':' || lpad(CAST((o_orderkey % 172800) % 60 AS VARCHAR), 2, '0')
    END AS time_str
  FROM orders
), parsed AS (
  SELECT o_orderkey, time_str, order_epoch_s,
    CASE WHEN regexp_matches(time_str, '^[0-9]+:[0-5][0-9]:[0-5][0-9]$')
         THEN CAST(string_split(time_str, ':')[1] AS INTEGER) * 3600
            + CAST(string_split(time_str, ':')[2] AS INTEGER) * 60
            + CAST(string_split(time_str, ':')[3] AS INTEGER)
    END AS parsed_seconds
  FROM built
)
SELECT o_orderkey, time_str, parsed_seconds, order_epoch_s,
       (parsed_seconds // 3600) % 24 AS service_hour,
       parsed_seconds // 86400 AS day_roll
FROM parsed
""",
)
def gtfs_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    built = o.select(
        "o_orderkey",
        # Build 'HH:MM:SS' (HH up to 47) from integer arithmetic; every
        # 13th key malformed to exercise the NULL-on-bad-input branch.
        F.expr(
            """CASE WHEN o_orderkey % 13 = 0
               THEN concat('bad:', cast(o_orderkey % 172800 AS string))
               ELSE concat(
                 lpad(cast((o_orderkey % 172800) div 3600 AS string), 2, '0'), ':',
                 lpad(cast(((o_orderkey % 172800) % 3600) div 60 AS string), 2, '0'), ':',
                 lpad(cast((o_orderkey % 172800) % 60 AS string), 2, '0'))
               END"""
        ).alias("time_str"),
        F.unix_timestamp("o_orderdate").alias("order_epoch_s"),  # F2
    )
    parsed = built.withColumn("parsed_seconds", gtfs_time_to_seconds(F.col("time_str")))
    return parsed.select(
        "o_orderkey",
        "time_str",
        "parsed_seconds",
        "order_epoch_s",
        (F.expr("parsed_seconds div 3600") % 24).alias("service_hour"),
        F.expr("parsed_seconds div 86400").alias("day_roll"),
    )


@register(
    "day_name_trim",
    ops=("F9", "F14"),
    doc="TO_CHAR('Day') blank-padding + TRIM (`fact_dim_tables.sql:170`, "
    "`analysis_queries.sql:176`) and the strftime('%A') day-name pick "
    "(`generate_synthetic_data.py:83`): pad day names to 9 chars, TRIM "
    "back, flag the Python-chosen target day.",
    oracle=f"""
SELECT TRIM(rpad(dayname(o_orderdate), 9, ' ')) AS day_name,
       TRIM(rpad(dayname(o_orderdate), 9, ' ')) = 'Monday' AS is_target_day,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY 1, 2
""",
)
def day_name_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    padded = F.rpad(F.date_format("o_orderdate", "EEEE"), 9, " ")
    day = F.trim(padded)
    target_day = "Monday"  # chosen driver-side, as the reference does
    return o.groupBy(
        day.alias("day_name"),
        (day == target_day).alias("is_target_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        N.dsum("o_totalprice").alias("revenue"),
    )


@register(
    "limit_without_order",
    ops=("O5",),
    doc="LIMIT without ORDER BY (`predict_delays.py:129,222`): which rows "
    "arrive is plan-dependent, only the count is defined — so the query "
    "exposes exactly the deterministic part (the count).",
    oracle="SELECT LEAST(1000, (SELECT COUNT(*) FROM orders)) AS n_rows",
)
def limit_without_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.limit(1000).agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "bucketed_colocated_join",
    ops=("J1", "A3"),
    doc="Bucketed fact-fact join: orders and lineitem written once as "
    "tables bucketed 8 ways on the join key, then joined — the scan "
    "output partitioning already satisfies the join requirement, so "
    "the join runs shuffle-free (SortMergeJoin with zero Exchange). "
    "This is the co-location strategy for repeated big-big joins at "
    "100 TB where re-shuffling the fact table per query dominates; "
    "broadcast handles dims, bucketing handles fact-fact.",
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       {N.sql_dsum("l.l_extendedprice")} AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _scratch(sf_dir, "bucketwh")
    names = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
    for name, key in names.items():
        tbl = f"tdps_{name}_bucketed"
        path = os.path.join(wh, name)
        if spark.catalog.tableExists(tbl) and os.path.isdir(path):
            continue
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        if os.path.isdir(path):
            # Files already bucketed by an earlier session (bucket ids
            # are in the file names): re-register the metadata only —
            # the data shuffle was paid exactly once.
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in spark.read.parquet(path).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            # First build for this sf_dir: pay the bucketing shuffle
            # once; every later join on the key is shuffle-free.
            (
                table(spark, sf_dir, name)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", path)
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(tbl)
            )
    o = spark.table("tdps_orders_bucketed")
    l = spark.table("tdps_lineitem_bucketed")
    # MERGE hint: at test scale Catalyst would broadcast (hiding the
    # point); a 100 TB fact-fact join is sort-merge, and with matched
    # bucketing the SMJ needs NO Exchange on either side.
    return (
        o.hint("merge").join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            N.dsum("l_extendedprice").alias("revenue"),
        )
    )


@register(
    "dpp_partitioned_fact_join",
    ops=("J3", "P3", "A3"),
    doc="Dynamic partition pruning: the fact is laid out partitioned "
    "by month key (the parquet equivalent of the reference's date "
    "indexes, `create_schema.sql:181-196`); a dimension filter on "
    "quarter prunes the fact scan to 3 of 12 partitions AT RUNTIME via "
    "DPP — the scan never reads the other 9. At 100 TB this is the "
    "difference between scanning 25 TB and 100 TB for a one-quarter "
    "query.",
    oracle=f"""
WITH months AS (
  SELECT DISTINCT month(o_orderdate) AS order_month,
         (month(o_orderdate) - 1) // 3 + 1 AS quarter
  FROM orders
)
SELECT m.quarter, COUNT(*) AS n_orders,
       {N.sql_dsum("o.o_totalprice")} AS revenue
FROM orders o
JOIN months m ON month(o.o_orderdate) = m.order_month
WHERE m.quarter = 2
GROUP BY m.quarter
""",
)
def dpp_partitioned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "dpp_fact")
    if not os.path.isdir(path):
        # One-time layout: fact partitioned by month smart key.
        (
            table(spark, sf_dir, "orders")
            .withColumn("order_month", F.month("o_orderdate"))
            # Cluster by the partition key first (see
            # partition_retention_drop: avoids task×month file blowup).
            .repartition(F.col("order_month"))
            .write.partitionBy("order_month")
            .mode("overwrite")
            .parquet(path)
        )
    fact = spark.read.parquet(path)
    months = (
        table(spark, sf_dir, "orders")
        .select(F.month("o_orderdate").alias("order_month"))
        .distinct()
        .withColumn("quarter", ((F.col("order_month") - 1) / 3).cast("int") + 1)
    )
    dim = months.filter(F.col("quarter") == 2)
    return (
        fact.join(F.broadcast(dim), "order_month")
        .groupBy("quarter")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            N.dsum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "jsonl_roundtrip",
    ops=("S1", "S7", "P9"),
    doc="JSONL sink then JSONL source with a declared schema (the "
    "interchange format of LLM training-data pipelines): documents "
    "written as line-delimited JSON, read back with an explicit "
    "schema (never inference in a production path), and summarized — "
    "newline/quote escaping must round-trip every payload byte.",
    oracle=f"""
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
  COUNT(DISTINCT doc_id) AS n_distinct_ids
FROM documents
GROUP BY 1
""",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "jsonl")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    docs.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
    )


@register(
    "mv_incremental_refresh",
    ops=("S10", "D2", "S3"),
    doc="Incremental materialized-view maintenance — the 100 TB "
    "refresh: the monthly-revenue MV is partitioned by month; a "
    "simulated late-arriving batch (the last month's orders) dirties "
    "exactly one partition, and the refresh recomputes ONLY dirty "
    "partitions (dynamic per-partition overwrite) instead of the full "
    "rebuild `mv_refresh` performs. The read-back result must equal "
    "the full recomputation over all orders — certifying the "
    "incremental path converges to the batch answer.",
    oracle=f"""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY 1
""",
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mv_dir = _scratch(sf_dir, "mv_inc")
    shutil.rmtree(mv_dir, ignore_errors=True)

    split_point = o.agg(F.max(F.date_trunc("month", "o_orderdate"))).first()[0]

    def build(df):
        return (
            df.groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                N.dsum("o_totalprice").alias("revenue"),
            )
            .withColumn("part", F.date_format("month", "yyyy-MM"))
        )

    # Initial load: everything before the final month.
    base = o.filter(F.date_trunc("month", "o_orderdate") < F.lit(split_point))
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        build(base).write.mode("overwrite").partitionBy("part").parquet(mv_dir)

        # Late batch arrives → exactly the dirty partitions are
        # recomputed from source and overwritten in place. Dirty months
        # are resolved by a semi-join (a tiny broadcastable frame),
        # never a driver materialization.
        om = o.withColumn("m", F.date_trunc("month", "o_orderdate"))
        dirty_months = (
            om.filter(F.col("m") >= F.lit(split_point)).select("m").distinct()
        )
        refresh = om.join(dirty_months, "m", "semi").drop("m")
        build(refresh).write.mode("overwrite").partitionBy("part").parquet(mv_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    return (
        spark.read.option("basePath", mv_dir)
        .parquet(mv_dir)
        .select("month", "n_orders", "revenue")
    )


@register(
    "orc_roundtrip",
    ops=("S1", "S7"),
    doc="Columnar-sink portability: supplier written as ORC and read "
    "back must equal the parquet original — same declared-schema "
    "roundtrip discipline as csv_roundtrip/jsonl_roundtrip but "
    "through Spark's second columnar format (predicate pushdown and "
    "column pruning both survive the ORC reader).",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "orc")
    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    # coalesce(1): fixture-sized roundtrip file; a real table keeps
    # its partitioning (single-file writes serialize the whole write).
    sup.coalesce(1).write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "schema_evolution_merge",
    ops=("S3", "S8", "P6"),
    doc="Schema-evolution read: a v1 snapshot (2 columns) and a v2 "
    "append (adds o_orderstatus) land in the same parquet directory; "
    "mergeSchema=true reconciles the footers, v1 rows surface the "
    "new column as NULL, COALESCE backfills the default — the "
    "add-a-column migration every long-lived pipeline does without "
    "rewriting history. At 100 TB the merge cost is footer-only "
    "(schema union), not data rewrite.",
    oracle=f"""
WITH merged AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
  FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderpriority = '2-HIGH'
)
SELECT COALESCE(o_orderstatus, 'UNKNOWN') AS status,
       COUNT(*) AS n_orders,
       {N.sql_dsum("o_totalprice")} AS revenue
FROM merged
GROUP BY 1
""",
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _scratch(sf_dir, "schevo")
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1.write.mode("overwrite").parquet(out)
    v2.write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("UNKNOWN")).alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        N.dsum("o_totalprice").alias("revenue"),
    )


@register(
    "snapshot_diff_cdc",
    ops=("S4", "J2", "A1", "P5"),
    doc="Snapshot diff / change-data-capture: two table versions "
    "(prev = customers minus the rows 'added' since; curr = all "
    "customers minus simulated deletions, with a deterministic "
    "mutation on every 7th account balance) are full-outer-joined on "
    "the key and every row classified added/removed/changed/"
    "unchanged; output is the per-status rollup with a key checksum. "
    "One key-partitioned shuffle regardless of table width — the "
    "standard lakehouse snapshot-reconciliation pattern (at 100 TB "
    "both snapshots are bucketed by key and the diff is "
    "shuffle-free); value comparison is numeric, no row "
    "serialization.",
    oracle="""
WITH prev AS (
  SELECT c_custkey AS key, c_acctbal AS bal FROM customer
  WHERE c_custkey % 11 <> 0
),
curr AS (
  SELECT c_custkey AS key,
    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS bal
  FROM customer
  WHERE c_custkey % 13 <> 5
),
diff AS (
  SELECT COALESCE(p.key, c.key) AS key,
    CASE
      WHEN p.key IS NULL THEN 'added'
      WHEN c.key IS NULL THEN 'removed'
      WHEN p.bal <> c.bal THEN 'changed'
      ELSE 'unchanged'
    END AS status
  FROM prev p FULL OUTER JOIN curr c ON p.key = c.key
)
SELECT status, COUNT(*) AS n_rows,
  CAST(SUM(key) AS BIGINT) AS key_checksum
FROM diff GROUP BY status
""",
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("bal")
    )
    prev = cust.filter(F.col("key") % 11 != 0)
    curr = cust.filter(F.col("key") % 13 != 5).select(
        "key",
        F.when(F.col("key") % 7 == 0, F.col("bal") + 10.0)
        .otherwise(F.col("bal"))
        .alias("bal"),
    )
    p, c = prev.alias("p"), curr.alias("c")
    diff = p.join(c, F.col("p.key") == F.col("c.key"), "full_outer").select(
        F.coalesce(F.col("p.key"), F.col("c.key")).alias("key"),
        F.when(F.col("p.key").isNull(), "added")
        .when(F.col("c.key").isNull(), "removed")
        .when(F.col("p.bal") != F.col("c.bal"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("key").cast("bigint").alias("key_checksum"),
    )


@register(
    "partition_stats_manifest",
    ops=("A3", "A1", "F5", "P3"),
    doc="Table-format partition manifest (the Iceberg/Delta metadata "
    "pattern): per month of o_orderdate, row count, key and price "
    "min/max, null counts, and distinct statuses — the per-partition "
    "stats a scan planner prunes against. One aggregate pass; output "
    "is partitions, not rows, so the manifest stays KB-sized at any "
    "table size and pruning decisions never touch data files.",
    oracle=f"""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
  COUNT(*) AS n_rows,
  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
  CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_null_status,
  COUNT(DISTINCT o_orderstatus) AS n_statuses,
  {N.sql_dsum("o_totalprice")} AS sum_price
FROM orders
GROUP BY 1
""",
)
def partition_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.sum(F.col("o_orderstatus").isNull().cast("int"))
        .cast("bigint")
        .alias("n_null_status"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        N.dsum("o_totalprice").alias("sum_price"),
    )


#: Compaction planner geometry: modeled row width and target bin size.
FILE_ROW_BYTES = 128
COMPACT_TARGET_BYTES = 65536


@register(
    "compaction_binpack",
    ops=("A3", "W11", "F5"),
    doc="Small-file compaction planner (the OPTIMIZE/bin-packing step "
    "every 100 TB lakehouse table needs): model each (priority, "
    "month) partition slice as one file (rows × 128 B), then assign "
    "files to target-sized compaction bins by next-fit over the "
    "running byte total — bin = floor((cumsum − bytes) / 64 KiB) per "
    "priority — and emit the per-bin work orders. The plan runs on "
    "the MANIFEST (partitions, not rows): one fact agg shuffles, the "
    "window sorts a KB-sized frame per priority. Files larger than "
    "the target get a bin of their own (next-fit semantics).",
    oracle=f"""
WITH files AS (
  SELECT o_orderpriority AS priority,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         COUNT(*) AS n_rows,
         COUNT(*) * {FILE_ROW_BYTES} AS est_bytes
  FROM orders GROUP BY 1, 2
),
packed AS (
  SELECT *,
    CAST((SUM(est_bytes) OVER (PARTITION BY priority ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - est_bytes)
         // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
  FROM files
)
SELECT priority, bin_id,
  COUNT(*) AS n_files,
  CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
  CAST(SUM(est_bytes) AS BIGINT) AS bin_bytes,
  MIN(month) AS first_month,
  MAX(month) AS last_month
FROM packed
GROUP BY 1, 2
""",
)
def compaction_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    files = files.withColumn(
        "est_bytes", F.col("n_rows") * F.lit(FILE_ROW_BYTES)
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = files.withColumn(
        "bin_id",
        F.floor(
            (F.sum("est_bytes").over(w) - F.col("est_bytes"))
            / F.lit(COMPACT_TARGET_BYTES)
        ).cast("long"),
    )
    return packed.groupBy("priority", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("long").alias("bin_rows"),
        F.sum("est_bytes").cast("long").alias("bin_bytes"),
        F.min("month").alias("first_month"),
        F.max("month").alias("last_month"),
    )


@register(
    "late_arriving_dim_handling",
    ops=("J2", "J5", "A1", "U1"),
    doc="Late-arriving dimension protocol — the warehouse-loading "
    "pattern for facts that reference dim rows not yet delivered: "
    "load facts against the current dim snapshot (here: the even-key "
    "half of customer, a deterministic stand-in for a stale copy), "
    "QUARANTINE non-matching facts instead of dropping or failing, "
    "then reprocess the quarantine when the full dim lands and report "
    "the funnel (matched / quarantined / recovered / unresolved). "
    "Both passes are broadcast-dim left joins; the quarantine retry "
    "touches only the quarantined slice, not the fact table.",
    oracle="""
WITH snap AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
first_pass AS (
  SELECT o.o_orderkey, o.o_custkey, s.c_custkey AS hit
  FROM orders o LEFT JOIN snap s ON o.o_custkey = s.c_custkey
),
retry AS (
  SELECT f.o_orderkey, c.c_custkey AS hit2
  FROM first_pass f LEFT JOIN customer c ON f.o_custkey = c.c_custkey
  WHERE f.hit IS NULL
)
SELECT
  (SELECT COUNT(*) FROM first_pass) AS n_facts,
  (SELECT COUNT(*) FROM first_pass WHERE hit IS NOT NULL) AS n_matched_initial,
  (SELECT COUNT(*) FROM retry) AS n_quarantined,
  (SELECT COUNT(*) FROM retry WHERE hit2 IS NOT NULL) AS n_recovered,
  (SELECT COUNT(*) FROM retry WHERE hit2 IS NULL) AS n_unresolved
""",
)
def late_arriving_dim_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders", spread=True)
    c = table(spark, sf_dir, "customer")
    snap = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey")
    first_pass = o.select("o_orderkey", "o_custkey").join(
        F.broadcast(snap), o.o_custkey == snap.c_custkey, "left"
    )
    quarantine = first_pass.filter(F.col("c_custkey").isNull()).select(
        "o_orderkey", "o_custkey"
    )
    full_dim = c.select(F.col("c_custkey").alias("k2"))
    retry = quarantine.join(
        F.broadcast(full_dim), quarantine.o_custkey == F.col("k2"), "left"
    )
    stats_first = first_pass.agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.count("c_custkey").alias("n_matched_initial"),
    )
    stats_retry = retry.agg(
        F.count(F.lit(1)).alias("n_quarantined"),
        F.count("k2").alias("n_recovered"),
        F.count(F.when(F.col("k2").isNull(), 1)).alias("n_unresolved"),
    )
    return stats_first.crossJoin(F.broadcast(stats_retry))


#: Rows per simulated file chunk for the zone-map evaluator (a small
#: row-group size so even sf0.001 produces a multi-chunk layout).
_ZM_CHUNK = 4096

#: Evaluated predicate: one month of ship dates.
_ZM_LO, _ZM_HI = "1996-03-01", "1996-04-01"


@register(
    "zone_map_skipping_eval",
    ops=("W4", "A3", "A9", "P3"),
    doc="Zone-map (min/max data-skipping) effectiveness evaluator — "
    "the quantified WHY behind zorder_key_layout and "
    "partition_stats_manifest: lineitem is laid out in 4096-row "
    "chunks under two orderings (CLUSTERED: sorted by the predicate "
    "column l_shipdate; SCATTERED: sorted by a content hash, the "
    "ingest-order stand-in), per-chunk min/max stats are computed, "
    "and a one-month predicate is planned against each layout — "
    "reporting chunks skipped, rows scanned, and the scan "
    "amplification vs the true match count. The layout orderings "
    "use total deterministic sort keys (ties share a ship date, so "
    "chunk stats are order-invariant); counts are exact integers, "
    "the two ratios are single double divisions. The two global "
    "row_number sorts are the simulator's cost, not the plan "
    "pattern's — a real table gets these stats free from parquet "
    "footers; this operator is the offline judge of WHICH sort to "
    "write.",
    oracle=f"""
WITH keyed AS (
  SELECT l_shipdate,
    md5(concat_ws('#', l_orderkey, l_linenumber, l_partkey, l_suppkey,
                  l_extendedprice)) AS h
  FROM lineitem
),
layouts AS (
  SELECT 'clustered' AS layout, l_shipdate,
    (ROW_NUMBER() OVER (ORDER BY l_shipdate, h) - 1) // {_ZM_CHUNK} AS chunk
  FROM keyed
  UNION ALL
  SELECT 'scattered' AS layout, l_shipdate,
    (ROW_NUMBER() OVER (ORDER BY h, l_shipdate) - 1) // {_ZM_CHUNK} AS chunk
  FROM keyed
),
stats AS (
  SELECT layout, chunk, COUNT(*) AS n_rows,
    MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi,
    SUM(CASE WHEN l_shipdate >= TIMESTAMP '{_ZM_LO}'
              AND l_shipdate < TIMESTAMP '{_ZM_HI}' THEN 1 ELSE 0 END)
      AS n_match
  FROM layouts GROUP BY 1, 2
)
SELECT layout,
  CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(CASE WHEN hi < TIMESTAMP '{_ZM_LO}'
                  OR lo >= TIMESTAMP '{_ZM_HI}' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_skipped,
  CAST(SUM(CASE WHEN hi < TIMESTAMP '{_ZM_LO}'
                  OR lo >= TIMESTAMP '{_ZM_HI}' THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS skip_rate,
  CAST(SUM(CASE WHEN hi < TIMESTAMP '{_ZM_LO}'
                  OR lo >= TIMESTAMP '{_ZM_HI}' THEN 0 ELSE n_rows END)
       AS BIGINT) AS rows_scanned,
  CAST(SUM(n_match) AS BIGINT) AS rows_matching,
  CAST(SUM(CASE WHEN hi < TIMESTAMP '{_ZM_LO}'
                  OR lo >= TIMESTAMP '{_ZM_HI}' THEN 0 ELSE n_rows END)
       AS DOUBLE) / SUM(n_match) AS scan_amplification
FROM stats GROUP BY layout
""",
)
def zone_map_skipping_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_shipdate",
        F.md5(
            F.concat_ws(
                "#",
                "l_orderkey",
                "l_linenumber",
                "l_partkey",
                "l_suppkey",
                "l_extendedprice",
            )
        ).alias("h"),
    )

    # Global rank via VALUE-BUCKETED two-phase rank — no range
    # exchange, no checkpoint: each layout buckets on a PREFIX of its
    # own sort key (the day prefix of the fixed-width ship string;
    # the first two hex chars of the scatter hash), so the bucket id
    # is a pure row function, prefix-monotone in the sort order, and
    # every re-execution of the hash shuffle lands rows identically —
    # the branch-consistency problem that forced r7's pinned range
    # exchange (RangePartitioner's RDD-id-seeded sampling) simply
    # does not exist here. lrn within bucket + exclusive prefix of
    # earlier buckets (a bucket-count-sized broadcast) = global rank.
    # Ties share a ship date (clustered) / a full row image
    # (scattered), so residual tie order cannot change any chunk's
    # min/max/match stats — the oracle's serial ROW_NUMBER agrees.
    # Scale posture: ~2.5K day buckets / 256 hex buckets at sf0.1;
    # at larger volumes widen the prefixes (hour buckets, 3 hex
    # chars) — the broadcast stays tiny and the plan shape is
    # unchanged.
    ship_s = F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss")
    # NOT pinned (r10, measured 2.9 → 3.5 s with a localCheckpoint):
    # each layout's two consumers (rank window + bucket counts) hash-
    # partition on the same bkt key over the same child, so Spark's
    # ReusedExchange already shares the scan+md5 per layout; a pin
    # only adds a serialized materialization job.
    hashed = keyed.select(ship_s.alias("s"), "h")

    def layout(name: str, bucket, order) -> DataFrame:
        b = hashed.withColumn("bkt", bucket)
        local = b.withColumn(
            "lrn",
            F.row_number().over(Window.partitionBy("bkt").orderBy(*order)),
        )
        counts = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("cnt"))
        # Windowless prefix merge over the sorted bucket ids
        # (pid_prefix_offsets with a string key): bucket ids are
        # prefix-monotone in the sort key, so lexicographic bucket
        # order == global key order.
        ps = F.col("ps")
        packed = counts.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("bkt").alias("p"), F.col("cnt").alias("c"))
                )
            ).alias("ps")
        )
        offs = packed.select(
            F.explode(
                F.transform(
                    ps,
                    lambda _, i: F.struct(
                        F.element_at(ps, i + 1)["p"].alias("bkt"),
                        F.aggregate(
                            F.slice(ps, F.lit(1), i),
                            F.lit(0).cast("long"),
                            lambda a, x: a + x["c"],
                        ).alias("off"),
                    ),
                )
            ).alias("o"),
        ).select("o.*")
        return local.join(F.broadcast(offs), "bkt").select(
            F.lit(name).alias("layout"),
            F.col("s").alias("ship_s"),
            ((F.col("lrn") + F.col("off") - 1) / _ZM_CHUNK)
            .cast("long")
            .alias("chunk"),
        )

    layouts = layout(
        "clustered", F.substring("s", 1, 10), ("s", "h")
    ).unionByName(layout("scattered", F.substring("h", 1, 2), ("h", "s")))
    lo = F.lit(_ZM_LO + " 00:00:00")
    hi = F.lit(_ZM_HI + " 00:00:00")
    in_pred = (F.col("ship_s") >= lo) & (F.col("ship_s") < hi)
    stats = layouts.groupBy("layout", "chunk").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ship_s").alias("clo"),
        F.max("ship_s").alias("chi"),
        F.sum(F.when(in_pred, 1).otherwise(0)).alias("n_match"),
    )
    skipped = (F.col("chi") < lo) | (F.col("clo") >= hi)
    return stats.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.when(skipped, 1).otherwise(0)).cast("bigint").alias("n_skipped"),
        (
            F.sum(F.when(skipped, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("skip_rate"),
        F.sum(F.when(skipped, 0).otherwise(F.col("n_rows")))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("n_match").cast("bigint").alias("rows_matching"),
        (
            F.sum(F.when(skipped, 0).otherwise(F.col("n_rows"))).cast("double")
            / F.sum("n_match")
        ).alias("scan_amplification"),
    )


@register(
    "bitmap_index_intersect",
    ops=("A1", "A5", "J1", "P4"),
    doc="Bitmap-index AND-intersection (the roaring/bitmap secondary-"
    "index technique OLAP stores use for multi-predicate point "
    "filters): order keys pack 62 bits per int64 word (word = key "
    "div 62, bit = key mod 62 — staying inside the signed shift range "
    "of both engines), one bitmap per predicate is built as a "
    "per-word BIT_OR aggregate, the conjunction count is "
    "Σ bit_count(word_a & word_b) over the word-aligned equi-join, "
    "and the result is certified against the direct predicate scan "
    "on the same row. Bitmap state is |keys|/64 words per predicate "
    "— 8 bytes per 62 rows, mergeable by OR, the textbook trade of "
    "space for intersection speed; all arithmetic is int64 bit "
    "operations, bitwise deterministic by construction.",
    oracle="""
WITH b1 AS (
  SELECT o_orderkey // 62 AS w,
    BIT_OR(CAST(1 AS BIGINT) << CAST(o_orderkey % 62 AS INTEGER)) AS bits
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
),
b2 AS (
  SELECT o_orderkey // 62 AS w,
    BIT_OR(CAST(1 AS BIGINT) << CAST(o_orderkey % 62 AS INTEGER)) AS bits
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') GROUP BY 1
),
meet AS (
  SELECT SUM(bit_count(b1.bits & b2.bits)) AS via_bitmap,
    COUNT(*) AS n_shared_words
  FROM b1 JOIN b2 ON b1.w = b2.w
),
direct AS (
  SELECT COUNT(*) AS via_scan FROM orders
  WHERE o_orderstatus = 'F'
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
),
sizes AS (
  SELECT (SELECT COUNT(*) FROM b1) AS n_words_status,
         (SELECT COUNT(*) FROM b2) AS n_words_priority
)
SELECT CAST(s.n_words_status AS BIGINT) AS n_words_status,
  CAST(s.n_words_priority AS BIGINT) AS n_words_priority,
  CAST(m.n_shared_words AS BIGINT) AS n_shared_words,
  CAST(m.via_bitmap AS BIGINT) AS matched_via_bitmap,
  CAST(d.via_scan AS BIGINT) AS matched_direct,
  m.via_bitmap = d.via_scan AS bitmap_agrees
FROM meet m, direct d, sizes s
""",
)
def bitmap_index_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE orders pass (r11, guide §6): the old shape built each bitmap
    # as its own filtered scan and re-executed both for the size counts
    # plus a fifth scan for the direct predicate count — 5 `Scan
    # parquet` of orders in the plan, a 5× scan-byte multiplier at any
    # scale. Both bitmaps, both word counts, the shared-word count, the
    # AND-intersection popcount AND the direct-scan certification are
    # conditional aggregates over a single scan → per-word groupBy →
    # one-row rollup. A word's bitmap is 0 iff no row matched that
    # predicate in the word (1<<k is never 0), so word-presence counts
    # come off the merged frame exactly.
    o = table(spark, sf_dir, "orders", spread=True)
    c1 = F.col("o_orderstatus") == "F"
    c2 = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(o_orderkey % 62 AS INT))")
    zero = F.lit(0).cast("bigint")
    words = (
        o.select(
            F.expr("o_orderkey DIV 62").alias("w"),
            F.when(c1, bit).otherwise(zero).alias("bit1"),
            F.when(c2, bit).otherwise(zero).alias("bit2"),
            F.when(c1 & c2, 1).otherwise(0).alias("m"),
        )
        .groupBy("w")
        .agg(
            F.bit_or("bit1").alias("bits"),
            F.bit_or("bit2").alias("bits2"),
            F.sum("m").alias("n_direct"),
        )
    )
    has1 = F.col("bits") != 0
    has2 = F.col("bits2") != 0
    return words.agg(
        F.count(F.when(has1, 1)).cast("bigint").alias("n_words_status"),
        F.count(F.when(has2, 1)).cast("bigint").alias("n_words_priority"),
        F.count(F.when(has1 & has2, 1)).cast("bigint").alias("n_shared_words"),
        # SUM over the shared words only (no otherwise-0): an empty
        # intersection yields NULL, matching the old join-then-SUM.
        F.sum(F.when(has1 & has2, F.bit_count(F.expr("bits & bits2"))))
        .cast("bigint")
        .alias("matched_via_bitmap"),
        F.coalesce(F.sum("n_direct"), F.lit(0))
        .cast("bigint")
        .alias("matched_direct"),
    ).withColumn(
        "bitmap_agrees", F.col("matched_via_bitmap") == F.col("matched_direct")
    )


@register(
    "sql_udf_delay_category",
    ops=("S8", "F13", "P5", "A1"),
    doc="Catalog-registered SQL scalar function (Spark 4 CREATE "
    "TEMPORARY FUNCTION ... RETURN <expr>): the reference's delay "
    "banding (ml_feature_engineering.sql:156-161 — <=5 minor, "
    "<=15 moderate, <=30 severe, else extreme) is registered ONCE "
    "as an engine-resident function and reused by name across "
    "queries — the governed-semantics path (one definition, every "
    "consumer) instead of copy-pasted CASE blocks. The function "
    "body is pure expression, so Catalyst inlines it into codegen — "
    "zero call overhead, unlike an external UDF. Applied to order→"
    "ship lag days per return flag.",
    oracle="""
SELECT l.l_returnflag,
  CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 5 THEN 'minor'
       WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 15 THEN 'moderate'
       WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'severe'
       ELSE 'extreme' END AS delay_category,
  COUNT(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def sql_udf_delay_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "tdps_sqludf_lineitem"
    )
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "tdps_sqludf_orders"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tdps_delay_cat(x INT) "
        "RETURNS STRING RETURN CASE WHEN x <= 5 THEN 'minor' "
        "WHEN x <= 15 THEN 'moderate' WHEN x <= 30 THEN 'severe' "
        "ELSE 'extreme' END"
    )
    return spark.sql(
        """
        SELECT l.l_returnflag,
          tdps_delay_cat(CAST(datediff(l.l_shipdate, o.o_orderdate) AS INT))
            AS delay_category,
          COUNT(*) AS n_items
        FROM tdps_sqludf_lineitem l
        JOIN tdps_sqludf_orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
        """
    )


@register(
    "analyze_table_stats",
    ops=("S8", "A1", "A12"),
    doc="Catalog statistics lifecycle (ANALYZE TABLE ... COMPUTE "
    "STATISTICS): orders is registered as an external parquet "
    "table, analyzed, and the metastore's rowCount is read back "
    "through the optimizer (logical-plan stats) and certified "
    "against the exact COUNT(*) — the CBO-input freshness check a "
    "warehouse runs after every load (stale stats mis-size every "
    "join strategy downstream). Per-status counts ride along so "
    "the certification covers data, not just metadata. The ANALYZE "
    "scan is metadata+count only; stats storage is O(1).",
    oracle="""
WITH tot AS (SELECT COUNT(*) AS n FROM orders)
SELECT o.o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(t.n AS BIGINT) AS stats_row_count,
  CAST(t.n AS BIGINT) AS actual_row_count,
  TRUE AS stats_fresh
FROM orders o CROSS JOIN tot t
GROUP BY 1, 3, 4
""",
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic scratch path + SESSION-SCOPED table name: Python's
    # str hash is salted per process (a new path every run leaks stale
    # scratch dirs), and a fixed catalog table name races two
    # concurrent sessions sharing a metastore — suffix both with the
    # md5 digest _scratch() already uses.
    path = _scratch(sf_dir, "stats")
    tbl = f"tdps_stats_orders_{path.rsplit('_', 1)[-1]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        table(spark, sf_dir, "orders")
        .write.option("path", path)
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    # Read the metastore statistics back via DESCRIBE EXTENDED (the
    # optimizer only surfaces rowCount with CBO enabled; the catalog
    # row is authoritative either way).
    import re as _re

    stats_row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
        .filter(F.col("col_name") == "Statistics")
        .select("data_type")
        .first()
    )
    m = _re.search(r"(\d+) rows", stats_row[0]) if stats_row else None
    stats_rows = int(m.group(1)) if m else -1
    actual = spark.table(tbl).count()
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderstatus",
            "n_orders",
            F.lit(stats_rows).cast("bigint").alias("stats_row_count"),
            F.lit(actual).cast("bigint").alias("actual_row_count"),
            F.lit(stats_rows == actual).alias("stats_fresh"),
        )
    )


@register(
    "federated_format_union",
    ops=("S1", "S7", "U1", "J3", "P9"),
    doc="Heterogeneous-format federation in ONE plan: the customer "
    "dimension is staged as three disjoint slices — parquet, CSV "
    "(header), JSONL — re-read with explicit schemas, unioned by "
    "name, and rolled up against the broadcast nation dim. The "
    "lake-migration reality where one table spans formats "
    "mid-conversion; correctness = the union equals the original "
    "table exactly (slice predicate is key mod 3 — no overlap, no "
    "gap). Text formats round-trip decimals as strings with "
    "explicit casts, the usual CSV/JSON schema-erosion trap made "
    "visible and tested.",
    oracle="""
SELECT c.c_nationkey,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance
FROM customer c
GROUP BY 1
""",
)
def federated_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    # _scratch: md5-deterministic path (salted str-hash leaked a fresh
    # dir per process).
    base = _scratch(sf_dir, "fed")
    pq, csv, jl = (f"{base}_parquet", f"{base}_csv", f"{base}_jsonl")
    cols = ["c_custkey", "c_nationkey", "c_acctbal"]
    sliced = c.select(*cols)
    # The three staging writes are independent jobs over disjoint
    # slices with disjoint targets — run them from a thread pool so
    # each write's task tail back-fills the others (guide §2.6, the
    # mv_refresh pattern; r11). The read-back union below only starts
    # after all three committed.
    from concurrent.futures import ThreadPoolExecutor

    def _stage(spec: tuple) -> None:
        rem, writer = spec
        spark.sparkContext.setJobDescription(f"federated_stage:{rem}")
        try:
            writer(sliced.filter(F.col("c_custkey") % 3 == rem))
        finally:
            spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(3, initializer=_caller_properties(spark)) as pool:
        list(
            pool.map(
                _stage,
                [
                    (0, lambda df: df.write.mode("overwrite").parquet(pq)),
                    (
                        1,
                        lambda df: df.write.mode("overwrite")
                        .option("header", "true")
                        .csv(csv),
                    ),
                    (2, lambda df: df.write.mode("overwrite").json(jl)),
                ],
            )
        )
    ddl = "c_custkey bigint, c_nationkey bigint, c_acctbal double"
    u = (
        spark.read.parquet(pq)
        .unionByName(spark.read.schema(ddl).option("header", "true").csv(csv))
        .unionByName(spark.read.schema(ddl).json(jl))
    )
    return u.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast(N.DEC)).cast("double").alias(
            "total_balance"
        ),
    )


@register(
    "sql_pipe_syntax_query",
    ops=("S2", "A3", "A10", "O3", "P3"),
    doc="SQL pipe syntax (Spark 4 |> operators, from the public "
    "SQL-pipes design): scan |> filter |> extend |> aggregate |> "
    "having-filter |> order expressed as a linear pipeline instead "
    "of inside-out nesting — same Catalyst plan as the classic "
    "spelling (the parser desugars before analysis), so pushdown/"
    "pruning are identical. Decimal-exact revenue; the DuckDB twin "
    "is the classic SELECT, proving dialect-level equivalence.",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY 1, 2
HAVING COUNT(*) > 10
""",
)
def sql_pipe_syntax_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "tdps_pipe_orders"
    )
    return spark.sql(
        """
        FROM tdps_pipe_orders
        |> WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |> AGGREGATE COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue
           GROUP BY o_orderstatus, o_orderpriority
        |> WHERE n_orders > 10
        """
    )


@register(
    "sql_session_variables",
    ops=("S8", "P4", "A3", "F6"),
    doc="SQL session variables (Spark 4 DECLARE/SET VAR): the "
    "retention cutoff and price floor are session state referenced "
    "by name inside the query — the parameterized-report pattern "
    "(one governed definition, N consumers) that replaces string-"
    "templated SQL. Variables fold to literals at analysis, so "
    "pushdown still reaches the scan. The twin inlines the same "
    "constants.",
    oracle="""
SELECT o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 250000.0
  AND o_orderdate >= TIMESTAMP '1996-06-01'
GROUP BY 1
""",
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "tdps_var_orders"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE tdps_price_floor DOUBLE DEFAULT 0.0"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE tdps_date_floor TIMESTAMP "
        "DEFAULT TIMESTAMP '1970-01-01'"
    )
    spark.sql("SET VAR tdps_price_floor = 250000.0")
    spark.sql("SET VAR tdps_date_floor = TIMESTAMP '1996-06-01'")
    return spark.sql(
        """
        SELECT o_orderstatus,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            AS revenue
        FROM tdps_var_orders
        WHERE o_totalprice > tdps_price_floor
          AND o_orderdate >= tdps_date_floor
        GROUP BY 1
        """
    )


@register(
    "parameterized_sql_query",
    ops=("S2", "P4", "A3", "P3"),
    doc="Parameterized SQL with named markers and the IDENTIFIER() "
    "clause (Spark 3.4+/4): values bind as typed literals (:floor) "
    "and the TABLE NAME binds through IDENTIFIER(:tbl) — the "
    "injection-safe dynamic-SQL surface (quoting user input into "
    "query strings is the anti-pattern this replaces). Binding "
    "happens at parse time, so the plan is identical to the "
    "literal spelling — pushdown intact.",
    oracle="""
SELECT o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
WHERE o_totalprice > 200000.0
GROUP BY 1
""",
)
def parameterized_sql_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView(
        "tdps_param_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
            AS revenue
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :floor
        GROUP BY 1
        """,
        args={"tbl": "tdps_param_orders", "floor": 200000.0},
    )


@register(
    "collation_aware_grouping",
    ops=("F9", "A2", "A1", "P10"),
    doc="String collations (Spark 4 COLLATE UTF8_LCASE): case-"
    "insensitive distinct counts and grouping keys expressed as a "
    "COLUMN TYPE property instead of lower() rewrites — the "
    "engine-native path that keeps original casing in the output "
    "while comparing case-insensitively (a lower() rewrite loses "
    "the display form). Demonstrated on part containers vs the "
    "binary-collation baseline; the DuckDB twin spells the same "
    "semantics with lower() since its collation surface differs — "
    "same relational answer, each engine idiomatic.",
    oracle="""
SELECT p_brand,
  COUNT(*) AS n_parts,
  COUNT(DISTINCT p_name) AS distinct_binary,
  COUNT(DISTINCT lower(p_name)) AS distinct_lcase,
  COUNT(DISTINCT p_type) AS types_binary,
  COUNT(DISTINCT lower(p_type)) AS types_lcase
FROM part
GROUP BY 1
""",
)
def collation_aware_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "part").createOrReplaceTempView("tdps_coll_part")
    return spark.sql(
        """
        SELECT p_brand,
          COUNT(*) AS n_parts,
          COUNT(DISTINCT p_name) AS distinct_binary,
          COUNT(DISTINCT p_name COLLATE UTF8_LCASE) AS distinct_lcase,
          COUNT(DISTINCT p_type) AS types_binary,
          COUNT(DISTINCT p_type COLLATE UTF8_LCASE) AS types_lcase
        FROM tdps_coll_part
        GROUP BY p_brand
        """
    )


@register(
    "xml_ingest_roundtrip",
    ops=("S1", "S7", "P9", "A3"),
    doc="XML format surface (Spark 4 built-in to_xml/from_xml): the "
    "supplier dimension is serialized to XML row documents and "
    "parsed back with a declared schema inside one plan — the "
    "enterprise-feed ingestion path (SOAP/ERP exports) beside the "
    "CSV/JSONL/ORC/parquet roundtrips. The certification aggregate "
    "proves value fidelity through the serialize→parse cycle "
    "(decimal-exact balance survives the text roundtrip). DuckDB "
    "has no XML surface, so the twin certifies against the source "
    "table directly — which is exactly the roundtrip contract.",
    oracle="""
SELECT s_nationkey,
  COUNT(*) AS n_suppliers,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance,
  MIN(s_name) AS min_name
FROM supplier
GROUP BY 1
""",
)
def xml_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    ddl = "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"
    xml = s.select(F.to_xml(F.struct(*cols)).alias("doc"))
    parsed = xml.select(F.from_xml("doc", ddl).alias("r")).select("r.*")
    return parsed.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast(N.DEC))
        .cast("double")
        .alias("total_balance"),
        F.min("s_name").alias("min_name"),
    )


@register(
    "partition_retention_drop",
    ops=("S11", "S3", "A1", "F5"),
    doc="Delete-by-age as PARTITION DROPS (the 100 TB retention "
    "story: deleting old data by row-filter rewrites the whole "
    "table; dropping date partitions is a metadata/file operation): "
    "orders land in a month-partitioned layout, months older than "
    "the cutoff are dropped as directories, and the surviving "
    "per-month counts are certified against the row-filter "
    "semantics the reference implements (`gtfs/pipeline.py` "
    "retention, ref daily DAG) — proving drop-by-partition ≡ "
    "DELETE WHERE on partition-aligned predicates. Scratch layout "
    "is rebuilt per run (idempotent).",
    oracle="""
SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE),
                '%Y-%m-%d') AS month,
  COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def partition_retention_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil as _shutil

    # _scratch: md5-deterministic path (salted str-hash leaked a fresh
    # dir per process).
    base = _scratch(sf_dir, "retention")
    _shutil.rmtree(base, ignore_errors=True)
    o = table(spark, sf_dir, "orders")
    (
        o.withColumn(
            "month",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd"),
        )
        # Cluster rows by the partition column before the partitioned
        # write: a multi-task source otherwise emits one file per
        # (task × month) — a small-files explosion (32 tasks × ~80
        # months here; fatal at 100 TB where partitioned writes always
        # repartition or sort by the partition key first).
        .repartition(F.col("month"))
        .write.partitionBy("month")
        .parquet(base)
    )
    # Metadata-level retention: drop month directories below the
    # cutoff — no table rewrite, no row scan.
    cutoff = "1997-01-01"
    for entry in _os.listdir(base):
        if entry.startswith("month=") and entry.split("=", 1)[1] < cutoff:
            _shutil.rmtree(_os.path.join(base, entry))
    # Declared schema: an all-dropped (or empty-input) layout has no
    # files left to infer from — the read must still plan.
    ddl = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string, month string"
    )
    return (
        spark.read.schema(ddl).parquet(base)
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
