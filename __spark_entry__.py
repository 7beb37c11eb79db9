"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``transit_data_pipeline_spark.operators`` --
this module only adapts the registry to the driver contract.

Check window: the correctness check covers only the first ~50 entries of
``queries()`` each round, so their order decides which evidence is
refreshed. ``queries()`` and ``oracle_sql()`` derive it from the
``CORRECTNESS_r{N}.json`` files next to this module (``window_order``):

1. a query's last-checked round is the highest N (parsed as a number)
   of a file that has a row for it;
2. ``_FRONT`` goes first: queries whose code changed after their last
   row. An entry drops out on its own once a file newer than
   ``_FRONT_AFTER`` has a row for it;
3. the rest sort never-checked first, then oracle-backed before
   rows-only, then stalest last-checked round first; ties keep
   registry order.

With no record files present the order is the registry order.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from transit_data_pipeline_spark.operators.registry import all_specs  # noqa: E402
from transit_data_pipeline_spark.session import configure  # noqa: E402

#: Round stamp of ``_FRONT``: every entry's code changed after its
#: last row in CORRECTNESS_r{1..11}.json.
_FRONT_AFTER = 11
_FRONT = (
    # callers of ranking.two_phase_rank / sorted_neighbors (last row
    # r5/r6; the range-partition width changed in r11)
    "pareto_frontier",
    "abc_customer_classification",
    "analysis_stop_hotspots",
    "cumulative_share",
    "train_test_split",
    "rfm_segments",
    "quality_decile_calibration",
    "vocab_zipf_fit",
    "vocab_coverage_curve",
    "rouge_overlap_pairs",
    "ks_two_sample",
    "dedup_sorted_neighborhood",
    "curriculum_phases",
    "quantile_normalize_scores",
    "isotonic_calibration_pav",
    "spearman_rank_corr",
    # rewritten in r11: curation funnel, components family
    "corpus_curation_funnel",
    "dedup_components",
    "dedup_keep_best",
    "dedup_cluster_stats",
    # nation graph, one plan per query since r11
    "nation_trade_pagerank",
    "hits_trade_graph",
    "bfs_shortest_hops",
    "kcore_trade_graph",
    # rows-only, last row r3 (it would sort last): since r11 its fold
    # accuracies moved with the pinned feature table, and the table's
    # trailing means come from one aggregate
    "ml_gbt_cv_metrics",
)


def last_checked(records_dir: str) -> dict[str, int]:
    """name -> highest N of a CORRECTNESS_r{N}.json with a row for it."""
    last: dict[str, int] = {}
    for fname in os.listdir(records_dir):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            with open(os.path.join(records_dir, fname)) as f:
                for name in json.load(f):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def window_order(
    names: Iterable[str],
    rows_only: Iterable[str],
    records_dir: str,
    front: Iterable[str] = _FRONT,
    front_after: int = _FRONT_AFTER,
) -> list[str]:
    """Order ``names`` for the correctness check window (module docstring)."""
    names = list(names)
    last = last_checked(records_dir)
    if not last:
        return names
    known, rows_only = set(names), set(rows_only)
    head = [n for n in front if n in known and last.get(n, 0) <= front_after]
    fronted = set(head)
    rest = [n for n in names if n not in fronted]
    rest.sort(key=lambda n: (n in last, n in rows_only, last.get(n, 0)))
    return head + rest


def _ordered_specs():
    specs = all_specs()
    rows_only = [n for n, s in specs.items() if s.oracle is None]
    return {n: specs[n] for n in window_order(specs, rows_only, _HERE)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    configure(spark)
    specs = all_specs()
    return specs["perf_ranking_trends"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md SS2."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(spec.fn) for name, spec in _ordered_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for each query (omitted -> rows-only check)."""
    return {
        name: spec.oracle
        for name, spec in _ordered_specs().items()
        if spec.oracle is not None
    }
