"""Canonical TPC-H queries over the driver tables — the
industry-standard decision-support suite, re-expressed Spark-first
with the engine's deterministic-aggregate discipline (decimal-exact
sums, rounded ratios, full tiebreakers). The fixtures carry a subset
of the TPC-H columns, so Q3 substitutes o_orderpriority for the
absent o_shippriority; everything else follows the spec shapes
(TPC-H v3 specification, tpc.org — public domain benchmark text).

Scale notes: Q1/Q6 are single-scan aggregates (predicate pushdown to
parquet, map-side partials); Q3/Q10 are fact-fact joins keyed on
orderkey with dimension filters applied BEFORE the join; Q5 is the
classic star with region/nation broadcast and the s_nationkey =
c_nationkey colocation condition evaluated inside the join. Top-k
tails are sort+limit, never global windows.

No read takes ``spread``: every map side here is a cheap filter or
projection, and the repartition only added a shuffle (sf0.1 mirror,
all 22 queries: 631 → 271 tasks and 17.1-18.6 → 13.3 s at local[4],
541 → 181 tasks and 26.8-29.3 → 19.3-19.8 s at local[2]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import numeric as N
from .registry import register


@register(
    "tpch_q1_pricing_summary",
    ops=("A3", "A5", "P3", "F5"),
    doc="TPC-H Q1 pricing summary report: per (returnflag, "
    "linestatus) sums of quantity / price / discounted price / "
    "discounted+taxed price, averages, and row counts over lineitem "
    "shipped on or before the cutoff. Every sum runs through exact "
    "DECIMAL; the derived products disc_price and charge are "
    "computed IN decimal before summing, so the whole report is "
    "bitwise reproducible on any partition layout. One scan, one "
    "hash aggregate over ~6 groups — the canonical map-side-partial "
    "workload.",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
  {N.sql_dsum("l_quantity")} AS sum_qty,
  {N.sql_dsum("l_extendedprice")} AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS sum_disc_price,
  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l_discount AS DECIMAL(18,4)) AS DECIMAL(25,8))
       * CAST(1.0 + l_tax AS DECIMAL(13,4))) AS VARCHAR) AS DOUBLE)
    AS sum_charge,
  {N.sql_dravg("l_quantity")} AS avg_qty,
  {N.sql_dravg("l_extendedprice")} AS avg_price,
  {N.sql_dravg("l_discount")} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    ep = F.col("l_extendedprice").cast("decimal(19,4)")
    disc_price = ep * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
    charge = disc_price.cast("decimal(25,8)") * (
        F.lit(1.0) + F.col("l_tax")
    ).cast("decimal(13,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        N.dsum("l_quantity").alias("sum_qty"),
        N.dsum("l_extendedprice").alias("sum_base_price"),
        F.sum(disc_price).cast("string").cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("string").cast("double").alias("sum_charge"),
        N.dravg("l_quantity").alias("avg_qty"),
        N.dravg("l_extendedprice").alias("avg_price"),
        N.dravg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "tpch_q3_shipping_priority",
    ops=("J1", "J3", "A3", "O1", "P3"),
    doc="TPC-H Q3 shipping priority (adapted: o_orderpriority stands "
    "in for the fixture-absent o_shippriority): top-10 unshipped "
    "orders in the BUILDING segment by discounted revenue. Both "
    "dimension filters (mktsegment, order date) prune before the "
    "orderkey join; revenue sums in exact decimal; the tail is "
    "sort+limit with (revenue DESC, orderdate, orderkey) fully "
    "tiebroken.",
    oracle="""
SELECT l.l_orderkey,
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS revenue,
  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
  o.o_orderpriority AS orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
""",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    )
    agg = joined.groupBy(
        "l_orderkey", "o_orderdate", "o_orderpriority"
    ).agg(F.sum(rev).cast("string").cast("double").alias("revenue"))
    return (
        agg.orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    ops=("J3", "J4", "A3", "P3", "O3"),
    doc="TPC-H Q5 local supplier volume: revenue per nation within "
    "one region and year where the supplier and customer share a "
    "nation (the colocation equi-condition s_nationkey = "
    "c_nationkey rides inside the supplier join). region→nation "
    "prune first and broadcast; the two fact joins key on orderkey "
    "and (suppkey, nationkey); revenue in exact decimal; output "
    "sorted revenue DESC with the nation tiebreak.",
    oracle="""
SELECT n.n_name,
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nr = F.broadcast(
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(nr, s["s_nationkey"] == nr["n_nationkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(rev).cast("string").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "tpch_q6_revenue_change",
    ops=("A3", "P3", "P4"),
    doc="TPC-H Q6 forecasting revenue change: one filtered scan "
    "(shipdate year, discount band, quantity cap — all pushed to "
    "the parquet reader) and a single exact-decimal product sum. "
    "The purest predicate-pushdown benchmark in the suite.",
    oracle="""
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
       * CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * F.col(
        "l_discount"
    ).cast("decimal(18,4)")
    return li.agg(
        F.sum(rev).cast("string").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q10_returned_items",
    ops=("J1", "J3", "A3", "O1"),
    doc="TPC-H Q10 returned-item reporting: top-20 customers by "
    "revenue lost to returns in a quarter. The return flag and date "
    "window prune both fact sides before the orderkey join; the "
    "customer/nation dimensions broadcast; the tail is sort+limit "
    "with (revenue DESC, custkey) tiebreak.",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS revenue,
  ROUND(MAX(c.c_acctbal), 2) AS acctbal
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-10-01'
  AND o.o_orderdate < TIMESTAMP '1996-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(rev).cast("string").cast("double").alias("revenue"),
        F.round(F.max("c_acctbal"), 2).alias("acctbal"),
    )
    return (
        agg.orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue", "acctbal")
    )


#: Fixture stand-ins for Q7/Q8 parameters (synthetic nation names).
_Q7_NATION_A, _Q7_NATION_B = "NATION_1", "NATION_2"


@register(
    "tpch_q7_volume_shipping",
    ops=("J1", "J4", "A3", "P5", "F1"),
    doc="TPC-H Q7 volume shipping: bilateral trade revenue between "
    "two nations per year, where (supp_nation, cust_nation) may be "
    "either orientation of the pair. Both nation dimensions prune "
    "to 2 rows and broadcast; the OR-of-two-orientations predicate "
    "evaluates inside the join; the year extraction groups the "
    "exact-decimal revenue. The join tree is lineitem⋈orders⋈"
    "customer plus two broadcast nation lookups — fact-fact on "
    "orderkey, everything else dimension-sized.",
    oracle=f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
  CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
  AND ((ns.n_name = '{_Q7_NATION_A}' AND nc.n_name = '{_Q7_NATION_B}')
    OR (ns.n_name = '{_Q7_NATION_B}' AND nc.n_name = '{_Q7_NATION_A}'))
GROUP BY ns.n_name, nc.n_name, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    a, b = _Q7_NATION_A, _Q7_NATION_B
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(
            (
                (F.col("supp_nation") == a) & (F.col("cust_nation") == b)
            )
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(rev).cast("string").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    ops=("J3", "J4", "A5", "A9", "F1"),
    doc="TPC-H Q8 national market share: the target nation's share of "
    "regional revenue per year for one part type — the "
    "ratio-of-conditional-aggregates pattern (SUM(CASE)·/SUM) over "
    "a five-way star. Region/nation/part dims prune before "
    "broadcast; numerator and denominator are both exact decimal "
    "sums VARCHAR-bridged, and the share divides once per year row.",
    oracle=f"""
SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
  ROUND(
    CAST(CAST(SUM(CASE WHEN ns.n_name = '{_Q7_NATION_A}'
         THEN CAST(l.l_extendedprice AS DECIMAL(19,4))
              * CAST(1.0 - l.l_discount AS DECIMAL(18,4))
         ELSE CAST(0 AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE)
    / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
         * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE),
    6) AS mkt_share,
  COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN region r ON nc.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE r.r_name = 'ASIA'
  AND p.p_type = 'PROMO'
  AND o.o_orderdate >= TIMESTAMP '1995-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY o_year
ORDER BY o_year
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    nc = F.broadcast(
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("nc_key")
        )
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    target_rev = F.when(
        F.col("supp_nation") == _Q7_NATION_A, rev
    ).otherwise(F.lit(0).cast("decimal(38,8)"))
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(nc, F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(target_rev).cast("string").cast("double")
                / F.sum(rev).cast("string").cast("double"),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q14_promo_revenue",
    ops=("J1", "A5", "A9", "P3"),
    doc="TPC-H Q14 promotion effect: the percentage of one month's "
    "revenue attributable to promotional parts — SUM(CASE p_type)"
    "/SUM over the lineitem⋈part join with the date window pushed "
    "to the fact scan. part joins broadcast; both sums exact "
    "decimal; one output row.",
    oracle="""
SELECT
  ROUND(100.0
    * CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
         THEN CAST(l.l_extendedprice AS DECIMAL(19,4))
              * CAST(1.0 - l.l_discount AS DECIMAL(18,4))
         ELSE CAST(0 AS DECIMAL(38,8)) END) AS VARCHAR) AS DOUBLE)
    / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
         * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE),
    6) AS promo_revenue_pct,
  COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
  AND l.l_shipdate < TIMESTAMP '1995-10-01'
""",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(38,8)")
    )
    return li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo).cast("string").cast("double")
            / F.sum(rev).cast("string").cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q4_order_priority",
    ops=("J9", "A1", "P3", "O3"),
    doc="TPC-H Q4 order priority checking (adapted: the fixture "
    "lacks l_commitdate/l_receiptdate, so the 'late' witness is a "
    "lineitem shipped more than 90 days after the order date): "
    "per-priority count of one quarter's orders that have at least "
    "one late line. The EXISTS is a left-semi join whose predicate "
    "mixes the orderkey equi-condition with the non-equi date "
    "comparison — Spark plans the equi part as the join key and "
    "evaluates the range residually, so no cartesian blowup. The "
    "quarter prunes orders before the join; lineitem carries only "
    "(l_orderkey, l_shipdate) through the semi probe.",
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q13_customer_distribution",
    ops=("J2", "A1", "A11", "O3"),
    doc="TPC-H Q13 customer distribution (adapted: the fixture lacks "
    "o_comment, so the excluded class is '1-URGENT' priority orders "
    "instead of the comment regex): histogram of customers by how "
    "many qualifying orders each placed, including the zero bucket "
    "via the LEFT join. Two-level aggregate — per-customer count, "
    "then count-of-counts — the second level is tiny (distinct "
    "order counts), so the expensive shuffle is only the first "
    "custkey aggregation, which AQE coalesces.",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) pc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "tpch_q15_top_supplier",
    ops=("J6", "A3", "S9", "O3"),
    doc="TPC-H Q15 top supplier: quarterly revenue per supplier, "
    "then the supplier(s) whose revenue equals the global max — the "
    "correlated-max-subquery shape. Revenue stays DECIMAL through "
    "the equality comparison (exact, so the tie semantics are "
    "engine-independent) and is VARCHAR-bridged to double only in "
    "the output. The max is a one-row broadcast; supplier is a "
    "broadcast dim.",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    SUM(CAST(l_extendedprice AS DECIMAL(19,4))
        * CAST(1.0 - l_discount AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name,
  CAST(CAST(r.total_rev AS VARCHAR) AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s.s_suppkey
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("total_rev")
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("string").cast("double")
            .alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q18_large_volume_customer",
    ops=("J1", "A3", "A10", "O1"),
    doc="TPC-H Q18 large-volume customers: orders whose total "
    "quantity exceeds 200 (fixture-scaled from the spec's 300), "
    "with their customer and order header — the IN-aggregate-"
    "subquery shape collapsed to one aggregation: the HAVING "
    "filter's per-order quantity sum IS the output column, so the "
    "big orderkey rollup runs once and the header join attaches "
    "customer/order columns afterward. Quantity sums through exact "
    "decimal; tail is sort+limit fully tiebroken (totalprice DESC, "
    "orderdate, orderkey).",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, {N.sql_dsum("l_quantity")} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {N.sql_dsum("l_quantity")} > 200)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
  o.o_totalprice AS totalprice, b.sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
""",
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(N.dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    ops=("J6", "J3", "A3", "O3", "P4"),
    doc="TPC-H Q2 minimum-cost supplier (adapted: the fixture has no "
    "partsupp, so the part–supplier cost relation is derived from "
    "lineitem — a (partkey, suppkey) pair's cost is its minimum "
    "observed unit price l_extendedprice/l_quantity): for every "
    "STANDARD part of size 15, the EUROPE supplier(s) offering the "
    "global minimum cost for that part — the correlated-scalar-min "
    "subquery shape, decorrelated into a per-part min aggregate "
    "joined back on (partkey, cost). The unit-price division is "
    "IEEE-identical in both engines so the equality join is "
    "deterministic; region→nation→supplier prunes and broadcasts "
    "before touching lineitem.",
    oracle="""
WITH costs AS (
  SELECT l.l_partkey, l.l_suppkey,
         MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY l.l_partkey, l.l_suppkey),
best AS (
  SELECT l_partkey, MIN(unit_cost) AS min_cost
  FROM costs GROUP BY l_partkey)
SELECT ROUND(s.s_acctbal, 2) AS s_acctbal, s.s_name, n.n_name,
       p.p_partkey, p.p_type, p.p_size, c.unit_cost
FROM part p
JOIN best b ON p.p_partkey = b.l_partkey
JOIN costs c ON c.l_partkey = b.l_partkey AND c.unit_cost = b.min_cost
JOIN supplier s ON c.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
""",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eu_supp = F.broadcast(
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    costs = (
        li.join(eu_supp, li["l_suppkey"] == eu_supp["s_suppkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.col("l_extendedprice") / F.col("l_quantity")
            ).alias("unit_cost")
        )
    )
    best = costs.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    winners = costs.join(
        best,
        (costs["l_partkey"] == best["b_partkey"])
        & (costs["unit_cost"] == best["min_cost"]),
    )
    return (
        winners.join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .join(eu_supp, F.col("l_suppkey") == eu_supp["s_suppkey"])
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "p_size",
            "unit_cost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q9_product_profit",
    ops=("J4", "A3", "F1", "O3"),
    doc="TPC-H Q9 product-type profit (adapted: without partsupp's "
    "ps_supplycost, the cost model is 60% of the part's retail "
    "price per unit): per supplier-nation per order-year, "
    "sum(disc_price − 0.6·p_retailprice·l_quantity) over parts "
    "whose name contains 'red'. Every product stays in DECIMAL "
    "through the subtraction — widths spelled identically in both "
    "engines — and VARCHAR-bridges once at output. part and the "
    "supplier→nation chain broadcast; the orderkey fact join "
    "carries only the order year.",
    oracle="""
SELECT n.n_name AS nation,
  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
  CAST(CAST(SUM(
    CAST(CAST(l.l_extendedprice AS DECIMAL(19,4))
         * CAST(1.0 - l.l_discount AS DECIMAL(18,4)) AS DECIMAL(38,8))
    - CAST(CAST(0.6 AS DECIMAL(5,4)) * CAST(p.p_retailprice AS DECIMAL(19,4))
           * CAST(l.l_quantity AS DECIMAL(12,2)) AS DECIMAL(38,8))
  ) AS VARCHAR) AS DOUBLE) AS profit
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, o_year
ORDER BY nation, o_year DESC
""",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    sn = F.broadcast(
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
            "s_suppkey", F.col("n_name").alias("nation")
        )
    )
    disc_price = (
        F.col("l_extendedprice").cast("decimal(19,4)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)")
    ).cast("decimal(38,8)")
    cost = (
        F.lit(0.6).cast("decimal(5,4)")
        * F.col("p_retailprice").cast("decimal(19,4)")
        * F.col("l_quantity").cast("decimal(12,2)")
    ).cast("decimal(38,8)")
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(sn, li["l_suppkey"] == sn["s_suppkey"])
    )
    return (
        joined.groupBy(
            "nation", F.year("o_orderdate").cast("bigint").alias("o_year")
        )
        .agg(
            F.sum(disc_price - cost)
            .cast("string")
            .cast("double")
            .alias("profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "tpch_q11_important_stock",
    ops=("A3", "A10", "J3", "O3"),
    doc="TPC-H Q11 important stock identification (adapted: stock "
    "value per part is the exact-decimal sum of l_extendedprice "
    "over lines supplied by the target nation's suppliers, standing "
    "in for ps_supplycost·ps_availqty): parts whose value exceeds "
    "0.002 of the nation's total — the global-aggregate-in-HAVING "
    "shape. The total is a one-row broadcast joined into the "
    "HAVING filter; both sides of the comparison are the same "
    "decimal-sum→double bridge so the threshold is deterministic.",
    oracle="""
WITH nat_lines AS (
  SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(19,4)) AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'),
per_part AS (
  SELECT l_partkey, CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS part_value
  FROM nat_lines GROUP BY l_partkey),
total AS (
  SELECT CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS total_value
  FROM nat_lines)
SELECT p.l_partkey AS p_partkey, p.part_value
FROM per_part p, total t
WHERE p.part_value > t.total_value * 0.002
ORDER BY p.part_value DESC, p.l_partkey
""",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    nat_supp = F.broadcast(
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
            "s_suppkey"
        )
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    nat_lines = li.join(
        nat_supp, li["l_suppkey"] == nat_supp["s_suppkey"]
    ).select("l_partkey", F.col("l_extendedprice").cast("decimal(19,4)").alias("v"))
    per_part = nat_lines.groupBy("l_partkey").agg(
        F.sum("v").cast("string").cast("double").alias("part_value")
    )
    total = nat_lines.agg(
        F.sum("v").cast("string").cast("double").alias("total_value")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("total_value") * 0.002)
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    ops=("J6", "A3", "A9", "P4"),
    doc="TPC-H Q17 small-quantity-order revenue: yearly revenue lost "
    "if Brand#23 orders below 20% of that part's average quantity "
    "were no longer filled — the correlated-average subquery, "
    "decorrelated into a per-part exact-decimal average joined back "
    "to the brand's lines. The 0.2·avg threshold is the identical "
    "double expression in both engines; the revenue sum "
    "VARCHAR-bridges once.",
    oracle=f"""
WITH brand_lines AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#23'),
part_avg AS (
  SELECT l_partkey, {N.sql_davg("l_quantity")} AS avg_qty
  FROM brand_lines GROUP BY l_partkey)
SELECT
  {N.sql_drdiv('SUM(CAST((b.l_extendedprice) AS DECIMAL(18,4)))', '7')} AS avg_yearly,
  COUNT(*) AS n_lines
FROM brand_lines b
JOIN part_avg a ON b.l_partkey = a.l_partkey
WHERE b.l_quantity < 0.2 * a.avg_qty
""",
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_lines = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = brand_lines.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        N.davg("l_quantity").alias("avg_qty")
    )
    return (
        brand_lines.join(
            F.broadcast(part_avg),
            F.col("l_partkey") == F.col("a_partkey"),
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            N.drdiv(
                F.sum(F.col("l_extendedprice").cast(N.DEC)), F.lit(7)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q12_shipping_priority_class",
    ops=("J1", "A5", "P5", "F6"),
    doc="TPC-H Q12 shipping modes / order priority (adapted: the "
    "fixture lacks l_shipmode and commit/receipt dates, so the "
    "grouping is the ship-latency class — LATE if the line shipped "
    "more than 60 days after the order date): per class, how many "
    "lines belong to critical-priority orders vs not — the "
    "SUM(CASE) pivot over an orderkey fact join with the year "
    "window pushed to the lineitem scan.",
    oracle="""
SELECT
  CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
       THEN 'LATE' ELSE 'ONTIME' END AS ship_class,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY ship_class
ORDER BY ship_class
""",
)
def tpch_q12_shipping_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.when(late, "LATE").otherwise("ONTIME").alias("ship_class")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "tpch_q16_supplier_part_counts",
    ops=("J2", "A2", "P10", "O3"),
    doc="TPC-H Q16 parts/supplier relationship (adapted: lineitem "
    "stands in for partsupp as the part–supplier relation, and the "
    "supplier-complaint exclusion keys on negative account balance "
    "instead of the absent s_comment): distinct supplier count per "
    "(brand, type, size) for selected sizes, excluding one brand, "
    "one type, and flagged suppliers via NOT IN → anti join. The "
    "exclusion list is dimension-sized and broadcasts; the distinct "
    "count shuffles once on the group key.",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""",
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    flagged = table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(
            F.broadcast(flagged),
            li["l_suppkey"] == flagged["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@register(
    "tpch_q19_discounted_revenue",
    ops=("J1", "A3", "P4", "P5"),
    doc="TPC-H Q19 discounted revenue: one exact-decimal revenue sum "
    "over an OR of three (brand, size-band, quantity-band) "
    "conjunction groups evaluated on the lineitem⋈part join "
    "(quantity bands widened to the fixture's distribution). The "
    "brand/size filters shrink part before broadcast; the "
    "disjunction references both sides so it evaluates as a join "
    "residual — the classic can't-push-below-the-join predicate.",
    oracle="""
SELECT
  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(19,4))
       * CAST(1.0 - l.l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
    AS revenue,
  COUNT(*) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
   AND l.l_quantity BETWEEN 1 AND 20)
  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
      AND l.l_quantity BETWEEN 10 AND 30)
  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
      AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") <= 35)
    )
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 30))
        | ((brand == "Brand#34") & size.between(1, 35) & qty.between(20, 40))
    )
    rev = F.col("l_extendedprice").cast("decimal(19,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(rev).cast("string").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q20_potential_promotion",
    ops=("J9", "A3", "A10", "O3"),
    doc="TPC-H Q20 potential part promotion (adapted: without "
    "partsupp availability, the qualifying condition is that the "
    "supplier shipped more than 300 units of 'red' parts during "
    "1996, standing in for availqty > half the year's demand): "
    "suppliers meeting the volume bar with their nation — the "
    "nested-IN shape decorrelated into a HAVING aggregate and a "
    "semi join. The per-supplier quantity rollup is "
    "supplier-grained (tiny) and broadcasts into the semi probe.",
    oracle=f"""
WITH red_vol AS (
  SELECT l.l_suppkey, {N.sql_dsum("l.l_quantity")} AS red_qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '%red%'
    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l.l_suppkey
  HAVING {N.sql_dsum("l.l_quantity")} > 300)
SELECT s.s_name, n.n_name, ROUND(s.s_acctbal, 2) AS s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM red_vol)
ORDER BY s.s_name
""",
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    red_vol = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(N.dsum("l_quantity").alias("red_qty"))
        .filter(F.col("red_qty") > 300)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(
            F.broadcast(red_vol),
            s["s_suppkey"] == red_vol["l_suppkey"],
            "leftsemi",
        )
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select(
            "s_name", "n_name", F.round("s_acctbal", 2).alias("s_acctbal")
        )
        .orderBy("s_name")
    )


@register(
    "tpch_q21_suppliers_kept_waiting",
    ops=("J9", "J2", "A1", "O1"),
    doc="TPC-H Q21 suppliers who kept orders waiting (adapted: "
    "'late' is shipping more than 90 days after the order date, "
    "standing in for receipt-past-commit): per supplier, how many "
    "finalized multi-supplier orders they alone shipped late — the "
    "EXISTS/NOT-EXISTS pair decorrelated into one per-(order, "
    "supplier) rollup and one per-order rollup, where 'exactly one "
    "late supplier and it is me' replaces the two correlated "
    "subqueries. Both rollups shuffle on orderkey; the final "
    "supplier aggregation is dimension-sized.",
    oracle="""
WITH lines AS (
  SELECT l.l_orderkey, l.l_suppkey,
    CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
         THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'),
per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(late) AS any_late
  FROM lines GROUP BY l_orderkey, l_suppkey),
per_o AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(any_late) AS n_late
  FROM per_os GROUP BY l_orderkey)
SELECT s.s_name, COUNT(*) AS numwait
FROM per_os po
JOIN per_o o ON po.l_orderkey = o.l_orderkey
JOIN supplier s ON po.l_suppkey = s.s_suppkey
WHERE o.n_supp > 1 AND o.n_late = 1 AND po.any_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
""",
)
def tpch_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ).cast("int")
    per_os = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("any_late"))
    )
    per_o = per_os.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("any_late").alias("n_late"),
    )
    s = table(spark, sf_dir, "supplier")
    return (
        per_os.join(
            per_o,
            (per_os["l_orderkey"] == per_o["po_orderkey"])
            & (per_o["n_supp"] > 1)
            & (per_o["n_late"] == 1),
        )
        .filter(F.col("any_late") == 1)
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    ops=("J2", "A3", "A12", "O3"),
    doc="TPC-H Q22 global sales opportunity (adapted: the nation "
    "name stands in for the absent phone country code, and "
    "'inactive' means no order since 2000 — every fixture customer "
    "has ordered at some point): per nation, the count and "
    "exact-decimal balance total of above-average-balance customers "
    "with no recent orders. The global positive-balance average is "
    "a one-row broadcast; the recency exclusion is an anti join "
    "against the date-pruned orders scan.",
    oracle=f"""
WITH avg_bal AS (
  SELECT {N.sql_davg("c_acctbal")} AS v
  FROM customer WHERE c_acctbal > 0.0)
SELECT n.n_name AS cntry, COUNT(*) AS numcust,
  {N.sql_dsum("c.c_acctbal")} AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
CROSS JOIN avg_bal a
WHERE c.c_acctbal > a.v
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        N.davg("c_acctbal").alias("v")
    )
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            N.dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntry")
    )
