"""Graph algorithms over the nation trade graph: the PageRank and HITS
cores (their queries are registered in pipelineops), bounded
single-source BFS, k-core decomposition and Adamic-Adar link
prediction.

The trade graph has one node per nation and one edge per (supplier
nation, customer nation) pair, weighted by line count. `trade_pairs`
builds it in the family's only corpus-scale pass: lineitem ⋈ orders ⋈
customer ⋈ supplier → groupBy(src, dst), a map-side-combinable
aggregate. TPC-H fixes `nation` at 25 rows at every scale factor, so
the graph never grows: at most 25 nodes and 625 edges, whatever the
corpus size.

So each iteration runs inside one plan. The node list and the edge list
are collected into ONE row; the fixed K rounds run there as a SQL
higher-order-function program, ``aggregate(array_repeat(0, K), init,
(s, _) -> next)``, where each state is a node → value map built by
``transform(nodes, v -> …)``, in exact integer arithmetic; the final
state is exploded back into one row per node. No round launches a
Spark job: there is no driver loop and no lineage to cut, and the
rounds are fixed, so the DuckDB twins unroll the same ones.

BFS and k-core run on a SPARSE "trade backbone": each source's top-k
partners (row_number per src, deterministic tiebreak on dst),
symmetrized. The full trade graph is near-complete, so hop distances
and core membership on it would be degenerate.

Graphs that do grow with the corpus (near-duplicate document
components, `dedup._min_label_components`) keep the Pregel shape: one
join + aggregate per round, no driver-side data.

Reference parity: the reference ships no graph operators; these are
north-star extensions in the spirit of its network-style analyses
(`sql/analysis_queries.sql` route-cascade chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .registry import register

#: Bounded-BFS hop budget: distances beyond this are reported NULL on
#: BOTH sides (the oracle's recursive walk carries the same bound, so
#: the contract is "shortest distance within _BFS_HOPS hops").
_BFS_HOPS = 8
#: Out-degree kept per source nation in the thinned backbone.
_BFS_TOPK = 2
_CORE_TOPK = 3
#: k-core threshold and fixed peel rounds (25 nodes stabilize in ≤3
#: rounds; 6 is slack — the oracle unrolls the same 6).
_CORE_K = 3
_CORE_ROUNDS = 6


def trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted trade graph (src, dst, w): w lines shipped from
    supplier nation ``src`` to customer nation ``dst``."""
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _run(nodes: DataFrame, edges: DataFrame, program: str) -> DataFrame:
    """Collect the graph into ONE row — ``nodes``, the sorted distinct
    node ids, and ``edges``, every edge row as a struct — evaluate
    ``program`` there (SQL returning one struct per node), and explode
    its result back into rows."""
    n = nodes.agg(F.array_sort(F.collect_set("node")).alias("nodes"))
    e = edges.agg(F.collect_list(F.struct(*edges.columns)).alias("edges"))
    return n.crossJoin(F.broadcast(e)).select(F.inline(F.expr(program)))


def _rounds(k: int, init: str, step: str, out: str) -> str:
    """SQL: ``k`` rounds of ``step`` from ``init`` (the state ``s`` is a
    node → value map), then ``named_struct(out)`` for each node ``v`` of
    the final state."""
    return (
        f"aggregate(array_repeat(0, {k}), {init}, (s, _) -> {step}, "
        f"s -> transform(nodes, v -> named_struct({out})))"
    )


def _per_node(value: str) -> str:
    """SQL: the node → value map with ``value`` evaluated at each node
    ``v``."""
    return f"map_from_arrays(nodes, transform(nodes, v -> {value}))"


def _let(name: str, value: str, body: str) -> str:
    """SQL: ``body`` with ``name`` bound to ``value``. SQL has no let, and
    a subexpression repeated inside a lambda is evaluated at every use;
    a one-element transform evaluates it once."""
    return f"transform(array({value}), {name} -> {body})[0]"


def pagerank_frame(
    nodes: DataFrame, edges: DataFrame, iters: int, scale: int
) -> DataFrame:
    """Integer PageRank over an ARBITRARY directed weighted edge list —
    the iteration core of ``nation_trade_pagerank``, factored out so
    property tests can drive it with hypothesis-generated graphs.

    `nodes`: one column ``node``; `edges`: ``src``/``dst``/``w``. Ranks
    start at ``scale div n``; each of `iters` rounds gives node v
    ``15·scale div 100n + 85·Σ_{u→v} (rank_u·w div out_w_u) div 100
    + 85·dangling div 100n``, where dangling is the rank held by nodes
    without out-edges. Returns (node, rank)."""
    out_w = (
        "map_from_entries(transform(array_distinct(transform(edges, e -> e.src)),"
        " u -> struct(u, aggregate(filter(edges, e -> e.src = u), 0L,"
        " (t, e) -> t + e.w))))"
    )
    contrib = (
        "aggregate(filter(edges, e -> e.dst = v), 0L,"
        " (t, e) -> t + coalesce((s[e.src] * e.w) div out_w[e.src], 0L))"
    )
    dangling = "aggregate(nodes, 0L, (t, u) -> t + if(out_w[u] IS NULL, s[u], 0L))"
    rank = (
        f"{15 * scale} div (100 * size(nodes)) + (85 * {contrib}) div 100"
        f" + (85 * {dangling}) div (100 * size(nodes))"
    )
    return _run(
        nodes,
        edges,
        _let(
            "out_w",
            out_w,
            _rounds(
                iters,
                _per_node(f"{scale} div size(nodes)"),
                _per_node(rank),
                "'node', v, 'rank', s[v]",
            ),
        ),
    )


def hits_frame(
    nodes: DataFrame, edges: DataFrame, iters: int, scale: int
) -> DataFrame:
    """Integer HITS over an ARBITRARY directed weighted edge list — the
    iteration core of ``hits_trade_graph``, factored out for property
    tests.

    `nodes`: one column ``node``; `edges`: ``src``/``dst``/``w``.
    Authorities start at ``scale div n``; each of `iters` rounds sets
    hub_v = Σ_{v→u} w·auth_u, then auth_v = Σ_{u→v} w·hub_u, each
    L1-renormalized as ``x·scale div total`` (0 when the total is 0).
    Returns (node, hub, auth)."""

    def half_step(scores: str, key: str, peer: str) -> str:
        raw = (
            f"transform(nodes, v -> aggregate(filter(edges, e -> e.{key} = v),"
            f" 0L, (t, e) -> t + coalesce(e.w * {scores}[e.{peer}], 0L)))"
        )
        norm = f"CASE WHEN tot = 0 THEN 0L ELSE (x * {scale}) div tot END"
        return _let(
            "raw",
            raw,
            _let(
                "tot",
                "aggregate(raw, 0L, (t, y) -> t + y)",
                f"map_from_arrays(nodes, transform(raw, x -> {norm}))",
            ),
        )

    init = _per_node(f"{scale} div size(nodes)")
    step = _let(
        "h",
        half_step("s.a", "src", "dst"),
        f"named_struct('h', h, 'a', {half_step('h', 'dst', 'src')})",
    )
    return _run(
        nodes,
        edges,
        _rounds(
            iters,
            f"named_struct('h', {init}, 'a', {init})",
            step,
            "'node', v, 'hub', s.h[v], 'auth', s.a[v]",
        ),
    )


def _backbone_sql(k: int) -> str:
    """Shared oracle CTEs: weighted pairs → top-k per src → symmetric.

    MATERIALIZED throughout: DuckDB inlines plain CTEs, so an
    iterative consumer (k-core's 2-per-round references to `edges`)
    would re-run the 4-way fact join dozens of times — at ×8 that ran
    the oracle into the 48 GB cap. The backbone is ≤ 25·k rows;
    computing it once is the point. (DuckDB accepts the hint inside
    WITH RECURSIVE blocks too — the BFS oracle shares these CTEs.)"""
    return f"""
pairs AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
  GROUP BY 1, 2
),
topk AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
      ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rk
    FROM pairs
  ) WHERE rk <= {k}
),
edges AS MATERIALIZED (
  SELECT src, dst FROM topk
  UNION
  SELECT dst AS src, src AS dst FROM topk
)"""


def _backbone_edges(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Symmetric top-k trade backbone (src, dst) between distinct
    nations."""
    pairs = trade_pairs(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    wrk = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst"))
    topk = (
        pairs.select("src", "dst", F.row_number().over(wrk).alias("rk"))
        .filter(F.col("rk") <= k)
        .select("src", "dst")
    )
    return (
        # One-pass symmetrization (explode of both orientations): a
        # union of swapped copies runs the fact-scale aggregate + window
        # once per branch.
        topk.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


def bfs_hops_frame(
    nodes: DataFrame, edges: DataFrame, source: int, max_hops: int
) -> DataFrame:
    """Bounded single-source BFS by frontier relaxation over an
    ARBITRARY symmetric edge list — the iteration core of
    ``bfs_shortest_hops``, factored out so property tests can drive
    it with hypothesis-generated graphs (VERDICT r9 item 6).

    `nodes`: one int column ``node`` (every vertex, reachable or
    not); `edges`: ``src``/``dst``. Returns (node, hops) with hops
    NULL when the node is unreachable within `max_hops`."""
    # Spark's least() and array_min() skip NULLs: an unreached node
    # takes the best reached in-neighbor's hops + 1.
    via = "array_min(transform(filter(edges, e -> e.dst = v), e -> s[e.src] + 1))"
    return _run(
        nodes,
        edges,
        _rounds(
            max_hops,
            _per_node(f"if(v = {source}, 0, NULL)"),
            _per_node(f"least(s[v], {via})"),
            "'node', v, 'hops', s[v]",
        ),
    )


def kcore_frame(
    nodes: DataFrame, edges: DataFrame, k: int, rounds: int
) -> DataFrame:
    """Degree peeling over an ARBITRARY symmetric edge list — the
    iteration core of ``kcore_trade_graph``, factored out for property
    tests (VERDICT r9 item 6).

    Returns (node, deg0, deg, alive): the initial degree; the last
    round's degree among the previous round's survivors (NULL for a
    node peeled before it); and whether the node survives all
    `rounds` peels. With rounds >= |nodes| the survivors are the exact
    k-core fixpoint (each non-final round removes >= 1 node)."""
    deg0 = "CAST(size(filter(edges, e -> e.src = v)) AS BIGINT)"
    deg = f"CAST(size(filter(edges, e -> e.src = v AND s[e.dst] >= {k})) AS BIGINT)"
    return _run(
        nodes,
        edges,
        _rounds(
            rounds,
            _per_node(deg0),
            _per_node(f"if(s[v] >= {k}, {deg}, NULL)"),
            f"'node', v, 'deg0', {deg0}, 'deg', s[v],"
            f" 'alive', coalesce(s[v] >= {k}, false)",
        ),
    )


def kcore_peel(
    nodes: DataFrame, edges: DataFrame, k: int, rounds: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`kcore_frame` as (deg0, alive, deg): initial degrees, the
    survivor set after `rounds` peels, and the last round's
    survivor-restricted degrees."""
    core = kcore_frame(nodes, edges, k, rounds)
    return (
        core.select("node", F.col("deg0").alias("deg")),
        core.filter("alive").select("node"),
        core.filter(F.col("deg").isNotNull()).select("node", "deg"),
    )


def _bfs_oracle() -> str:
    return f"""
WITH RECURSIVE {_backbone_sql(_BFS_TOPK)},
walk AS (
  SELECT CAST(0 AS INT) AS node, 0 AS hops
  UNION
  SELECT CAST(e.dst AS INT) AS node, w.hops + 1
  FROM walk w JOIN edges e ON w.node = e.src
  WHERE w.hops < {_BFS_HOPS}
),
dist AS (SELECT node, MIN(hops) AS hops FROM walk GROUP BY 1)
SELECT n.n_nationkey AS nationkey, n.n_name,
  CAST(d.hops AS BIGINT) AS hops,
  d.hops IS NOT NULL AS reachable
FROM nation n LEFT JOIN dist d ON n.n_nationkey = d.node
"""


@register(
    "bfs_shortest_hops",
    ops=("J4", "A3", "A11", "W4"),
    doc="Bounded single-source BFS over the thinned (top-2-partner) "
    "trade backbone: shortest hop count from nation 0 to every "
    "nation, computed by frontier relaxation — each of the "
    f"{_BFS_HOPS} rounds gives every node the least of its distance "
    "and its in-neighbors' distances + 1. Distances beyond the hop "
    "budget are NULL. The backbone and the 25 nations are collected "
    "into one row and the rounds run there as one SQL "
    "higher-order-function program: one plan, no per-round job. That "
    "holds at every scale factor, because TPC-H fixes nation at 25 "
    "rows; the corpus-scale work is the one weighted-edge aggregate "
    "(shared with nation_trade_pagerank). Integer arithmetic "
    "throughout; the DuckDB twin is the engine-idiomatic recursive CTE "
    "carrying the same hop bound.",
    oracle=_bfs_oracle(),
)
def bfs_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _backbone_edges(spark, sf_dir, _BFS_TOPK)
    nation = table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").cast("int").alias("node"))
    dist = bfs_hops_frame(nodes, edges, source=0, max_hops=_BFS_HOPS)
    return dist.join(
        F.broadcast(nation), dist["node"] == nation["n_nationkey"]
    ).select(
        F.col("n_nationkey").alias("nationkey"),
        "n_name",
        F.col("hops").cast("bigint").alias("hops"),
        F.col("hops").isNotNull().alias("reachable"),
    )


def _kcore_oracle() -> str:
    ctes = [
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        """deg0 AS (
  SELECT x.node, COUNT(e.dst) AS deg
  FROM nodes x LEFT JOIN edges e ON x.node = e.src
  GROUP BY 1
)""",
        f"a0 AS (SELECT node FROM deg0 WHERE deg >= {_CORE_K})",
    ]
    for r in range(1, _CORE_ROUNDS + 1):
        ctes.append(
            f"""d{r} AS (
  SELECT x.node, COUNT(y.node) AS deg
  FROM a{r - 1} x
  LEFT JOIN edges e ON x.node = e.src
  LEFT JOIN a{r - 1} y ON e.dst = y.node
  GROUP BY 1
)"""
        )
        ctes.append(
            f"a{r} AS (SELECT node FROM d{r} WHERE deg >= {_CORE_K})"
        )
    return (
        f"WITH {_backbone_sql(_CORE_TOPK)},\n"
        + ",\n".join(ctes)
        + f"""
SELECT n.n_nationkey AS nationkey, n.n_name,
  CAST(d0.deg AS BIGINT) AS degree_initial,
  a.node IS NOT NULL AS in_core,
  CAST(CASE WHEN a.node IS NOT NULL THEN df.deg END AS BIGINT)
    AS degree_in_core
FROM nation n
JOIN deg0 d0 ON n.n_nationkey = d0.node
LEFT JOIN a{_CORE_ROUNDS} a ON n.n_nationkey = a.node
LEFT JOIN d{_CORE_ROUNDS} df ON n.n_nationkey = df.node
"""
    )


@register(
    "kcore_trade_graph",
    ops=("J4", "A1", "A11", "J2"),
    doc=f"{_CORE_K}-core decomposition of the top-{_CORE_TOPK} trade "
    "backbone by degree peeling: each round drops every node whose "
    f"degree among survivors is < {_CORE_K}, fixed {_CORE_ROUNDS} "
    "rounds (25 nodes stabilize in ≤3; the DuckDB twin unrolls the "
    "same rounds as chained CTEs). The backbone and the 25 nations "
    "are collected into one row and the peel rounds run there "
    "as one SQL higher-order-function program: one plan, no per-round "
    "job, at every scale factor (TPC-H fixes nation at 25 rows). Emits "
    "every nation's initial degree, core membership, and in-core "
    "degree; integer counts throughout.",
    oracle=_kcore_oracle(),
)
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _backbone_edges(spark, sf_dir, _CORE_TOPK)
    nation = table(spark, sf_dir, "nation")
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    core = kcore_frame(nodes, edges, k=_CORE_K, rounds=_CORE_ROUNDS)
    return nation.join(
        F.broadcast(core), nation["n_nationkey"] == core["node"]
    ).select(
        F.col("n_nationkey").alias("nationkey"),
        "n_name",
        F.col("deg0").alias("degree_initial"),
        F.col("alive").alias("in_core"),
        F.when(F.col("alive"), F.col("deg")).alias("degree_in_core"),
    )


#: 1/log(deg) weights for Adamic-Adar, precomputed as stdlib literals
#: for every possible backbone degree (≤ 2·nations) — no libm in
#: either engine, same recipe as the normal-quantile tables.
import math as _math

_AA_WEIGHTS = {
    d: 1.0 / _math.log(d) for d in range(2, 51)
}
_AA_WEIGHT_SQL = " ".join(
    f"WHEN {d} THEN CAST('{v!r}' AS DOUBLE)" for d, v in _AA_WEIGHTS.items()
)


def adamic_adar_scored(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """AA scores for every non-adjacent pair with >= 1 common
    neighbor, over an ARBITRARY symmetric edge list — the scoring
    core of ``adamic_adar_link_prediction``, factored out for
    property tests (VERDICT r9 item 6). Returns (u, v, n_common,
    aa_score) with u < v, unranked."""
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    wmap = spark.createDataFrame(
        [(d, v) for d, v in _AA_WEIGHTS.items()], "d int, wt double"
    )
    w = deg.join(F.broadcast(wmap), "d").select("node", "wt")
    a = edges.select(F.col("src").alias("u"), F.col("dst").alias("za"))
    b = edges.select(F.col("src").alias("zb"), F.col("dst").alias("v"))
    # two-hop paths u -z- v with u < v; z must really neighbor u
    # (edges are symmetric, so a's (u,z) suffices) — the third join in
    # the oracle mirrors symmetry explicitly.
    two_hop = a.join(
        F.broadcast(b), (F.col("za") == F.col("zb")) & (F.col("u") < F.col("v"))
    ).select("u", "v", F.col("za").alias("z"))
    ex = edges.select(F.col("src").alias("xu"), F.col("dst").alias("xv"))
    cand = two_hop.join(
        F.broadcast(ex),
        (F.col("u") == F.col("xu")) & (F.col("v") == F.col("xv")),
        "left_anti",
    )
    # LEFT join mirrors the oracle's CASE: a common neighbor whose
    # degree falls outside the weight table still counts in n_common
    # (its NULL weight is skipped by SUM) instead of silently dropping
    # the row — semantics hold even if the backbone constants change.
    return (
        cand.join(F.broadcast(w), cand["z"] == w["node"], "left")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("wt").alias("aa_score"),
        )
    )


@register(
    "adamic_adar_link_prediction",
    ops=("J4", "A3", "J1", "W4"),
    doc="Adamic-Adar link prediction over the trade backbone (Adamic "
    "& Adar 2003 — the classic common-neighbor score, weighting "
    "rare mutual partners above hubs): for every non-adjacent "
    "nation pair, AA = Σ 1/log(deg z) over common neighbors z. "
    "The degree→weight map is a precomputed stdlib literal table "
    "(like the normal-quantile grids), so neither engine calls "
    "log. Common neighbors via the two-hop self-join of the "
    "checkpointed edge list, anti-filtered against existing edges "
    "— the standard distributed link-prediction plan; the corpus-"
    "scale work is the shared weighted-edge aggregate. Emits the "
    "top-15 candidate links.",
    oracle=f"""
WITH {_backbone_sql(_CORE_TOPK)},
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY 1),
w AS (SELECT node, (CASE d {_AA_WEIGHT_SQL} END) AS wt FROM deg),
two_hop AS (
  SELECT a.src AS u, b.dst AS v, e.src AS z
  FROM edges a
  JOIN edges b ON a.dst = b.src AND a.src < b.dst
  JOIN edges e ON e.src = a.dst AND e.dst = a.src
),
cand AS (
  SELECT t.u, t.v, t.z
  FROM two_hop t
  LEFT JOIN edges x ON t.u = x.src AND t.v = x.dst
  WHERE x.src IS NULL
),
scored AS (
  SELECT c.u, c.v,
    COUNT(*) AS n_common,
    SUM(w.wt) AS aa_score
  FROM cand c LEFT JOIN w ON c.z = w.node
  GROUP BY 1, 2
)
SELECT u AS nation_a, v AS nation_b,
  CAST(n_common AS BIGINT) AS n_common_neighbors,
  ROUND(aa_score, 6) AS aa_score
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ROUND(aa_score, 6) DESC, u, v) AS rk
  FROM scored
) WHERE rk <= 15
""",
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adamic_adar_scored reads the backbone four times; the cut runs its
    # corpus-scale build once.
    edges = _backbone_edges(spark, sf_dir, _CORE_TOPK).localCheckpoint()
    scored = adamic_adar_scored(spark, edges)
    # Rank on the ROUNDED score: the raw double sum is order-dependent
    # across partition layouts, so mathematically-tied pairs could
    # straddle the top-15 boundary differently between runs/engines;
    # rounding to 6 dp before ranking (both sides) stabilizes the cut.
    rk = F.row_number().over(
        Window.orderBy(F.round("aa_score", 6).desc(), "u", "v")
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 15)
        .select(
            F.col("u").alias("nation_a"),
            F.col("v").alias("nation_b"),
            F.col("n_common").cast("bigint").alias("n_common_neighbors"),
            F.round("aa_score", 6).alias("aa_score"),
        )
    )
