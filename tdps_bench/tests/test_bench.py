"""Tests of the benchmark itself: its metric contract, its frozen query
slice and the fold of a traced run's event log into layers.

    python3 -m pytest tdps_bench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import registry_workload  # noqa: E402
import run  # noqa: E402
from layers import HARNESS, Layers, fold_event_log, timed_passes  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_named_metric_is_printed_with_its_unit():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_layer_metrics_cover_every_module_and_suffix():
    units = run.per_layer_units()
    for module in run.OPERATOR_MODULES:
        for suffix in ("build_s", "exec_s") + run.FOLDED:
            assert f"operators.{module}.{suffix}" in units
    for module in run.GTFS_MODULES:
        for suffix in ("build_s", "exec_s", "written_mb") + run.FOLDED:
            assert f"gtfs.{module}.{suffix}" in units
    for name in (
        "catalog.read_ms",
        "catalog.read_jobs",
        "gtfs.pipeline.jobs",
        "gtfs.dashboard.call_ms",
        "streaming.incremental.add_batch_ms",
        "session.jvm_peak_rss_mb",
        "trace.suite_s",
    ):
        assert name in units


def test_registry_loops_list_is_frozen():
    assert registry_workload.LOOPS == (
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


def test_registry_loops_are_registered_in_their_modules():
    from transit_data_pipeline_spark.operators.registry import all_specs

    specs = all_specs()
    for name, module in registry_workload.LOOPS:
        assert specs[name].fn.__module__.endswith(f".operators.{module}"), name
        assert specs[name].oracle, name


def test_traced_registry_run_covers_the_22_tpch_queries():
    from transit_data_pipeline_spark.operators.registry import all_specs

    tpch = [n for n, s in all_specs().items() if s.bench and s.fn.__module__.endswith(".operators.tpch")]
    assert len(tpch) == 22
    assert "tpch" in run.OPERATOR_MODULES


def test_trace_overhead_baseline_is_keyed(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "HISTORY", str(tmp_path / "history.json"))
    run.history("registry_loops|seed=1|src=a", 40.0)
    run.history("registry_loops|seed=1|src=a", 42.0)
    run.history("registry_loops|seed=2|src=a", 50.0)
    assert run.history("registry_loops|seed=1|src=a") == [40.0, 42.0]
    assert run.history("registry_loops|seed=1|src=b") == []
    assert len(run.source_digest()) == 16


class _Context:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):
        self.props[key] = value


def _job(job_id, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage, cpu_ns, shuffle_bytes=0, written=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
            "Output Metrics": {"Bytes Written": written},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def test_fold_attributes_jobs_to_their_layer(tmp_path):
    events = [
        _job(0, "operators.graphops:bfs_shortest_hops", [0, 1]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        _task(0, 2_000_000_000, shuffle_bytes=3_000_000),
        _task(1, 1_000_000_000),
        _job(1, "gtfs.warehouse:persist_warehouse", [2]),
        _task(2, 500_000_000, written=4_000_000),
        _job(2, "3f1c-run-id", [3]),  # a stream's micro-batch
        _task(3, 0),
        _job(3, None, [4]),
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (tmp_path / "local-0").write_text(json.dumps(_job(9, "gtfs.ml:train", [9])) + "\n")
    groups, sites = fold_event_log(str(tmp_path), "local-1")

    layers = Layers(_Context())
    layers.alias("3f1c-run-id", "streaming.incremental")
    by_layer = layers.by_layer(groups)

    graph = by_layer["operators.graphops"]
    assert (graph["jobs"], graph["stages"], graph["tasks"]) == (1, 2, 2)
    assert graph["executor_cpu_s"] == 3.0 and graph["shuffle_mb"] == 3.0
    assert by_layer["gtfs.warehouse"]["written_mb"] == 4.0
    assert by_layer["streaming.incremental"]["jobs"] == 1
    assert by_layer[HARNESS]["jobs"] == 1
    assert sum(sites.values()) == 4


def test_span_tags_jobs_and_restores_the_harness_group():
    ctx = _Context()
    layers = Layers(ctx)
    with layers.span("gtfs.ml", "train"):
        assert ctx.props["spark.jobGroup.id"] == "gtfs.ml:train"
    assert ctx.props["spark.jobGroup.id"] == HARNESS
    assert layers.layer_of("gtfs.ml:train") == "gtfs.ml"
    assert layers.seconds("gtfs.ml") > 0


def test_fixtures_are_a_function_of_the_seed():
    import fixtures

    a, b, c = fixtures.tables(7, 0.001), fixtures.tables(7, 0.001), fixtures.tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }


def test_muted_calls_record_no_span_and_run_as_the_harness():
    ctx = _Context()
    layers = Layers(ctx)
    with layers.muted():
        with layers.span("gtfs.ml", "train"):
            assert ctx.props["spark.jobGroup.id"] == HARNESS
    with layers.span("gtfs.ml", "train"):
        assert ctx.props["spark.jobGroup.id"] == "gtfs.ml:train"
    assert [s.layer for s in layers.spans] == ["gtfs.ml"]


def test_timed_passes_repeat_until_the_seconds_are_spent():
    walls, last = timed_passes(lambda i: i, 0.0, once=False)
    assert (len(walls), last) == (1, 0)
    walls, last = timed_passes(lambda i: time.sleep(0.01) or i, 0.035, once=False)
    assert len(walls) == last + 1 >= 3 and all(w >= 0.01 for w in walls)
    walls, last = timed_passes(lambda i: i, 60.0, once=True)
    assert (len(walls), last) == (1, 0)
