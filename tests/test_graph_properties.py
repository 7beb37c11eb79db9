"""Property-based tests (hypothesis) for the graph iteration cores
(VERDICT r9 item 6): random small graphs, asserted against brute-force
Python BFS / k-core peeling / Adamic-Adar scoring and pure-Python
integer PageRank / HITS.

The cores under test are the factored-out frame functions
(`bfs_hops_frame`, `kcore_peel`, `pagerank_frame`, `hits_frame`,
`adamic_adar_scored` in operators/graphops.py) — the exact iteration
programs the registered fixture queries run, each collecting its graph
into one row and running its rounds as one SQL higher-order-function
program. Here they are driven with adversarial topologies the trade
graph never produces (disconnected components, isolated and dangling
nodes, stars, near-cliques, no edges at all).
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from transit_data_pipeline_spark.operators.graphops import (
    adamic_adar_scored,
    bfs_hops_frame,
    hits_frame,
    kcore_peel,
    pagerank_frame,
)
from transit_data_pipeline_spark.operators.pipelineops import (
    _HITS_SCALE,
    _PR_SCALE,
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: Random undirected simple graph on nodes 0..n-1: n in 2..8, any
#: edge subset (drawn as ordered pairs, canonicalized u<v, no loops).
_GRAPHS = st.integers(min_value=2, max_value=8).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.sets(
            st.tuples(
                st.integers(0, n - 1), st.integers(0, n - 1)
            ).map(lambda p: (min(p), max(p))),
            max_size=n * (n - 1) // 2 + n,
        ).map(lambda es: frozenset((u, v) for u, v in es if u != v)),
    )
)


def _frames(spark, n, und_edges):
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node int")
    sym = sorted(
        {(u, v) for u, v in und_edges} | {(v, u) for u, v in und_edges}
    )
    if sym:
        edges = spark.createDataFrame(sym, "src int, dst int")
    else:
        edges = spark.createDataFrame([], "src int, dst int")
    return nodes, edges


def _adj(n, und_edges):
    adj = {i: set() for i in range(n)}
    for u, v in und_edges:
        adj[u].add(v)
        adj[v].add(u)
    return adj


def _bfs_py(adj, source, max_hops):
    dist = {source: 0}
    frontier = [source]
    for h in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = h
                    nxt.append(v)
        frontier = nxt
    return dist


def _kcore_py(adj, k):
    alive = {u for u in adj if len(adj[u]) >= k}
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < k}
        if not drop:
            return alive
        alive -= drop


@settings(**_SETTINGS)
@given(_GRAPHS, st.integers(min_value=1, max_value=9))
def test_bfs_matches_bruteforce(spark, graph, max_hops):
    """Bounded BFS from node 0 equals brute-force level traversal:
    exact hop counts within the budget, NULL beyond/unreachable —
    including disconnected graphs and budgets below the diameter."""
    n, und = graph
    nodes, edges = _frames(spark, n, und)
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops_frame(nodes, edges, 0, max_hops).collect()
    }
    want = _bfs_py(_adj(n, und), 0, max_hops)
    assert set(got) == set(range(n))
    for i in range(n):
        assert got[i] == want.get(i), (
            f"node {i}: got {got[i]} want {want.get(i)} "
            f"(edges={sorted(und)}, budget={max_hops})"
        )


@settings(**_SETTINGS)
@given(_GRAPHS, st.integers(min_value=1, max_value=4))
def test_kcore_fixpoint_matches_bruteforce(spark, graph, k):
    """Degree peeling with rounds=|nodes| reaches the exact k-core
    fixpoint: survivor set equals the brute-force peel, in-core
    degrees equal induced-subgraph degrees, and the fixpoint is
    stable (every survivor keeps >= k in-core neighbors)."""
    n, und = graph
    nodes, edges = _frames(spark, n, und)
    adj = _adj(n, und)
    deg0, alive, deg = kcore_peel(nodes, edges, k=k, rounds=n)
    got_deg0 = {r["node"]: r["deg"] for r in deg0.collect()}
    assert got_deg0 == {i: len(adj[i]) for i in range(n)}
    got_core = {r["node"] for r in alive.collect()}
    want_core = _kcore_py(adj, k)
    assert got_core == want_core, (
        f"core mismatch: got {sorted(got_core)} want {sorted(want_core)} "
        f"(edges={sorted(und)}, k={k})"
    )
    got_deg = {r["node"]: r["deg"] for r in deg.collect()}
    for u in want_core:
        ind = len(adj[u] & want_core)
        assert got_deg[u] == ind and ind >= k


@settings(**_SETTINGS)
@given(_GRAPHS)
def test_adamic_adar_matches_bruteforce(spark, graph):
    """AA scoring over a random graph equals the brute-force
    common-neighbor sum Σ 1/log(deg z) for every non-adjacent pair
    (common neighbors always have degree >= 2, so the weight table
    covers them); adjacent pairs never appear."""
    n, und = graph
    nodes, edges = _frames(spark, n, und)
    adj = _adj(n, und)
    want = {}
    for u in range(n):
        for v in range(u + 1, n):
            if v in adj[u]:
                continue
            common = adj[u] & adj[v]
            if common:
                want[(u, v)] = (
                    len(common),
                    sum(1.0 / math.log(len(adj[z])) for z in common),
                )
    got = {
        (r["u"], r["v"]): (r["n_common"], r["aa_score"])
        for r in adamic_adar_scored(spark, edges).collect()
    }
    assert set(got) == set(want), (
        f"pair set: got {sorted(got)} want {sorted(want)} "
        f"(edges={sorted(und)})"
    )
    for p, (nc, score) in want.items():
        assert got[p][0] == nc
        assert abs(got[p][1] - score) < 1e-9, (
            f"pair {p}: got {got[p][1]} want {score}"
        )


#: Random directed weighted graph on nodes 0..n-1: n in 1..8, any set
#: of (src, dst) pairs, self-loops included (the trade graph has
#: them), each with a line-count weight.
_WGRAPHS = st.integers(min_value=1, max_value=8).flatmap(
    lambda n: st.tuples(
        st.just(n),
        st.dictionaries(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            st.integers(1, 10_000),
            max_size=n * n,
        ),
    )
)
#: Node 2 is dangling (in-edges only), node 3 isolated.
_DANGLING = (4, {(0, 1): 5, (1, 0): 2, (1, 2): 7, (0, 2): 1})


def _wframes(spark, n, wedges):
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node int")
    edges = spark.createDataFrame(
        [(u, v, w) for (u, v), w in sorted(wedges.items())],
        "src int, dst int, w long",
    )
    return nodes, edges


def _pagerank_py(n, wedges, iters, scale):
    out_w = {}
    for (u, _v), w in wedges.items():
        out_w[u] = out_w.get(u, 0) + w
    rank = {v: scale // n for v in range(n)}
    for _ in range(iters):
        dangling = sum(rank[u] for u in range(n) if u not in out_w)
        sc = dict.fromkeys(range(n), 0)
        for (u, v), w in wedges.items():
            sc[v] += rank[u] * w // out_w[u]
        rank = {
            v: 15 * scale // (100 * n) + 85 * sc[v] // 100
            + 85 * dangling // (100 * n)
            for v in range(n)
        }
    return rank


def _hits_py(n, wedges, iters, scale):
    def normalized(raw):
        tot = sum(raw.values())
        return {v: 0 if tot == 0 else x * scale // tot for v, x in raw.items()}

    auth = {v: scale // n for v in range(n)}
    hub = dict(auth)
    for _ in range(iters):
        hub = normalized({
            v: sum(w * auth[d] for (s, d), w in wedges.items() if s == v)
            for v in range(n)
        })
        auth = normalized({
            v: sum(w * hub[s] for (s, d), w in wedges.items() if d == v)
            for v in range(n)
        })
    return hub, auth


@settings(**_SETTINGS)
@given(_WGRAPHS, st.integers(min_value=0, max_value=6))
@example((3, {}), 5)
@example(_DANGLING, 5)
def test_pagerank_matches_integer_reference(spark, graph, iters):
    """Integer PageRank equals the pure-Python integer recurrence
    exactly — dangling mass, isolated nodes and the edgeless graph
    included."""
    n, wedges = graph
    nodes, edges = _wframes(spark, n, wedges)
    got = {
        r["node"]: r["rank"]
        for r in pagerank_frame(nodes, edges, iters, _PR_SCALE).collect()
    }
    assert got == _pagerank_py(n, wedges, iters, _PR_SCALE), (
        f"edges={sorted(wedges.items())}, iters={iters}"
    )


@settings(**_SETTINGS)
@given(_WGRAPHS, st.integers(min_value=1, max_value=6))
@example((3, {}), 4)
@example(_DANGLING, 4)
def test_hits_matches_integer_reference(spark, graph, iters):
    """Integer HITS equals the pure-Python integer recurrence exactly,
    including the zero-total branch (every score 0) that the edgeless
    graph takes."""
    n, wedges = graph
    nodes, edges = _wframes(spark, n, wedges)
    rows = hits_frame(nodes, edges, iters, _HITS_SCALE).collect()
    hub, auth = _hits_py(n, wedges, iters, _HITS_SCALE)
    assert {r["node"]: r["hub"] for r in rows} == hub, (
        f"edges={sorted(wedges.items())}, iters={iters}"
    )
    assert {r["node"]: r["auth"] for r in rows} == auth
