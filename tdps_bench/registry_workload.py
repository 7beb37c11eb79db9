"""``registry_loops``: the driver-bound slice of the query registry.

The slice is frozen: the 11 registered bench queries outside
``operators.tpch`` that launched at least 25 Spark jobs in one pass at
sf0.1 on local[4] when the benchmark was defined. A later change that cuts
a query's job count does not change the list.

Inputs are generated from the seed (:mod:`fixtures`) in the layout of the
repo's test data, one parquet file per table. Each query is built, then collected to
pandas. The slice's first query runs once untimed as the warm-up;
then passes over the whole slice repeat for the run's seconds, and the
last pass's results are checked strictly against their DuckDB oracle twins
with ``tests/compare.py``.

Traced runs then make an untimed pass over the 22 ``operators.tpch``
queries on the same tables, built, collected and checked the same way, so
that the executor-bound operator layer is measured too.
"""

from __future__ import annotations

import os
import time

import fixtures
from checks import Checks
from layers import timed_passes

#: (query, operator module) — frozen; see the module docstring.
LOOPS = (
    ("nation_trade_pagerank", "pipelineops"),
    ("hits_trade_graph", "pipelineops"),
    ("sql_scripting_batch", "pipelineops"),
    ("kcore_trade_graph", "graphops"),
    ("bfs_shortest_hops", "graphops"),
    ("embedding_pca_power", "similarity"),
    ("corpus_curation_funnel", "curation"),
    ("erasure_cascade_audit", "curation"),
    ("dedup_keep_best", "curation"),
    ("dedup_cluster_stats", "dedup"),
    ("dedup_components", "dedup"),
)
#: Warm-up before the timed passes: the slice's first query, once. Cold,
#: it pays 10-12 s of the engine's JIT warm-up against 2-3 s warm; a whole
#: cold pass (about 42 s) does not fit the run budget.
WARMUP = LOOPS[:1]
SF = 0.01


class Collected:
    """A collected result handed to ``compare.compare``, which only calls
    ``toPandas()`` on the frame it is given."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def setup(work: str, seed: int) -> str:
    """Generate the ten tables; returns their directory."""
    src = os.path.join(work, "fixtures")
    fixtures.write(src, seed, SF)
    return src


def _pass(spark, layers, specs, queries, src: str) -> dict:
    """Build and collect each ``(query, module)``; returns the results."""
    results = {}
    for name, module in queries:
        layer = f"operators.{module}"
        with layers.span(layer, name, "build"):
            df = specs[name].fn(spark, src)
        with layers.span(layer, name, "exec"):
            results[name] = df.toPandas()
    return results


def _check(specs, results: dict, src: str, checks: Checks) -> None:
    """Compare each result strictly with its DuckDB oracle twin."""
    from compare import compare, duck_con

    con = duck_con(src)
    try:
        # DuckDB's optimizer spends ~25 s planning hits_trade_graph's chain
        # of inlined CTEs; unoptimized plans give the same rows in ~1 s.
        con.execute("PRAGMA disable_optimizer")
        for name, pdf in results.items():
            problems = compare(Collected(pdf), specs[name].oracle, con)
            checks.expect(not problems, f"{name}: " + "; ".join(problems[:3]))
    finally:
        con.close()


def run(spark, layers, work: str, src: str, trace: bool, seconds: float) -> dict:
    from transit_data_pipeline_spark.operators.registry import all_specs

    t0 = time.perf_counter()
    specs = all_specs()
    checks = Checks()

    t_warm = time.perf_counter()
    with layers.muted():
        _pass(spark, layers, specs, WARMUP, src)
    warmup_s = time.perf_counter() - t_warm

    passes, results = timed_passes(
        lambda i: _pass(spark, layers, specs, LOOPS, src), seconds, once=trace
    )
    _check(specs, results, src, checks)

    if trace:  # after the timed pass, so that it runs as in untraced runs
        tpch = [
            (name, "tpch")
            for name, spec in specs.items()
            if spec.bench and spec.fn.__module__.endswith(".operators.tpch")
        ]
        checks.expect(len(tpch) == 22, f"{len(tpch)} tpch queries registered, not 22")
        _check(specs, _pass(spark, layers, specs, tpch, src), src, checks)

    return {
        "warmup_s": warmup_s,
        "passes_s": passes,
        "checks": checks,
        "catalog_dir": src,
        "extra": {
            "wall_s": time.perf_counter() - t0,
            "sf": SF,
            "layout": "one parquet file per table, as in the repo's test data",
        },
    }
