#!/usr/bin/env python3
"""Benchmark of the transit pipeline, end to end and layer by layer.

    python3 tdps_bench/run.py --workload gtfs_pipeline --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run is one fresh process with one
Spark session on ``local[<nproc>]``; all working files go under
``.bench_work/`` in the checkout and are removed at exit.

Each run warms up first (part of ``setup_s``), then repeats the workload's
timed pass for ``--seconds`` seconds; ``suite_s`` is the median pass.
A traced run makes one timed pass.

Standard output ends with two JSON lines: the run's record (environment,
per-workload details; when traced, the per-call-site job split and the
overhead against the first pass of untraced runs of the same workload,
seed and source digest in this checkout, or null if there were none), then the
result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
Spark's event log is on and the metrics are the per-layer ones, folded
from that log through the job group set around every call.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
HISTORY = os.path.join(WORK_ROOT, "untraced_first_pass_s.json")
#: Source trees whose contents key the untraced first-pass history.
SOURCES = ("transit_data_pipeline_spark", "tdps_bench")

WORKLOADS = ("gtfs_pipeline", "registry_loops")
END_TO_END = {"setup_s": "s", "suite_s": "s"}
OPERATOR_MODULES = ("tpch", "pipelineops", "graphops", "similarity", "curation", "dedup")
GTFS_MODULES = ("ingest", "warehouse", "analysis", "features", "ml")
FOLDED = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_mb", "spill_mb")
STREAM_PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {
        "session.start_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "catalog.read_ms": "ms",
        "catalog.read_jobs": "count",
    }
    counter_units = {
        "build_s": "s",
        "exec_s": "s",
        "jobs": "count",
        "stages": "count",
        "tasks": "count",
        "executor_cpu_s": "s",
        "shuffle_mb": "MB",
        "spill_mb": "MB",
    }
    for m in OPERATOR_MODULES:
        units.update({f"operators.{m}.{k}": u for k, u in counter_units.items()})
    for m in GTFS_MODULES:
        units.update({f"gtfs.{m}.{k}": u for k, u in counter_units.items()})
        units[f"gtfs.{m}.written_mb"] = "MB"
    units.update(
        {
            "gtfs.warehouse.persist_s": "s",
            "gtfs.warehouse.persist_jobs": "count",
            "gtfs.pipeline.wall_s": "s",
            "gtfs.pipeline.jobs": "count",
            "streaming.incremental.drain_s": "s",
            "streaming.incremental.batches": "count",
            "streaming.incremental.input_rows": "count",
            **{f"streaming.incremental.{k}": "ms" for k in STREAM_PHASES},
            "gtfs.dashboard.call_ms": "ms",
            "gtfs.dashboard.jobs_per_call": "count",
            "trace.suite_s": "s",
        }
    )
    return units


def pin_env(work: str, trace: bool) -> dict[str, str]:
    """Pin the launcher environment before pyspark is imported."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(map(shlex.quote, submit)) + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the gateway JVM."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def catalog_probe(spark, layers, sf_dir: str) -> list[float]:
    """Time ``catalog.table`` on every table, ``spread`` off and on."""
    from transit_data_pipeline_spark import catalog

    out = []
    for name in catalog.TABLES:
        for spread in (False, True):
            t0 = time.perf_counter()
            with layers.span("catalog", f"{name}.spread={spread}", "build"):
                catalog.table(spark, sf_dir, name, spread=spread)
            out.append((time.perf_counter() - t0) * 1e3)
    return out


def source_digest() -> str:
    """Digest of every Python file of the program and the benchmark."""
    h = hashlib.sha256()
    for tree in SOURCES:
        for path in sorted(glob.glob(os.path.join(ROOT, tree, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def history(key: str, first_pass_s: float | None = None) -> list[float]:
    """First timed passes of untraced runs with this key (workload, seed
    and source digest) in this checkout; append one. A traced run makes
    only that pass, so its overhead is measured against it."""
    try:
        with open(HISTORY) as f:
            seen = json.load(f)
    except FileNotFoundError:
        seen = {}
    if first_pass_s is not None:
        seen.setdefault(key, []).append(first_pass_s)
        with open(HISTORY, "w") as f:
            json.dump(seen, f)
    return seen.get(key, [])


def traced_metrics(layers, out: dict, groups: dict, catalog_ms: list[float]) -> dict:
    """Per-layer metrics from the spans and the event log folded per job group."""
    by_layer = layers.by_layer(groups)
    zero = dict.fromkeys(FOLDED + ("written_mb",), 0.0)
    m: dict[str, float] = {}
    for layer in [f"operators.{x}" for x in OPERATOR_MODULES] + [f"gtfs.{x}" for x in GTFS_MODULES]:
        counters = by_layer.get(layer, zero)
        m[f"{layer}.build_s"] = layers.seconds(layer, "build")
        m[f"{layer}.exec_s"] = layers.seconds(layer, "exec")
        for k in FOLDED:
            m[f"{layer}.{k}"] = counters[k]
        if layer.startswith("gtfs."):
            m[f"{layer}.written_mb"] = counters["written_mb"]
    m["gtfs.warehouse.persist_s"] = sum(
        s.seconds for s in layers.spans if s.label == "persist_warehouse"
    )
    m["gtfs.warehouse.persist_jobs"] = groups.get("gtfs.warehouse:persist_warehouse", zero)["jobs"]
    m["gtfs.pipeline.wall_s"] = layers.seconds("gtfs.pipeline")
    m["gtfs.pipeline.jobs"] = by_layer.get("gtfs.pipeline", zero)["jobs"]

    m["streaming.incremental.drain_s"] = layers.seconds("streaming.incremental")
    m["streaming.incremental.batches"] = len(layers.progress)
    m["streaming.incremental.input_rows"] = sum(p.numInputRows for p in layers.progress)
    for key, phase in STREAM_PHASES.items():
        m[f"streaming.incremental.{key}"] = sum(
            p.durationMs.get(phase, 0) for p in layers.progress
        )

    calls = [s for s in layers.spans if s.layer == "gtfs.dashboard"]
    m["gtfs.dashboard.call_ms"] = statistics.median([s.seconds * 1e3 for s in calls]) if calls else 0.0
    m["gtfs.dashboard.jobs_per_call"] = (
        by_layer.get("gtfs.dashboard", zero)["jobs"] / len(calls) if calls else 0.0
    )
    m["catalog.read_ms"] = statistics.median(catalog_ms) if catalog_ms else 0.0
    m["catalog.read_jobs"] = (
        by_layer.get("catalog", zero)["jobs"] / len(catalog_ms) if catalog_ms else 0.0
    )
    m["trace.suite_s"] = out["suite_s"]
    return m


def measure(args, work: str, env: dict) -> tuple[dict, dict]:
    import gtfs_workload
    import registry_workload
    from layers import Layers, fold_event_log

    from transit_data_pipeline_spark.session import get_spark

    workload = {"gtfs_pipeline": gtfs_workload, "registry_loops": registry_workload}[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()  # one cold set-up: JVM launch, session, inputs, warm-up
        spark = get_spark("tdps-bench")
        session_s = time.perf_counter() - t0
        inputs = workload.setup(work, args.seed)
        setup_s = time.perf_counter() - t0
        layers = Layers(spark.sparkContext)
        out = workload.run(spark, layers, work, inputs, bool(args.trace), args.seconds)
        setup_s += out["warmup_s"]
        out["suite_s"] = statistics.median(out["passes_s"])
        catalog_ms = (
            catalog_probe(spark, layers, out["catalog_dir"])
            if args.trace and "catalog_dir" in out
            else []
        )
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "env": {
                **{k: v for k, v in env.items() if k != "PYSPARK_SUBMIT_ARGS"},
                "spark_version": spark.version,
                "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
                "master": spark.sparkContext.master,
            },
            "session_start_s": session_s,
            "setup_s": setup_s,
            "warmup_s": out["warmup_s"],
            "passes_s": out["passes_s"],
            "problems": out["checks"].problems,
            **out["extra"],
        }
        rss = jvm_peak_rss_mb()
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop(spark)

    key = f"{args.workload}|seed={args.seed}|src={source_digest()}"
    checks = out["checks"]
    attempted = len(layers.spans) + checks.attempted
    failed = len(checks.problems)
    if args.trace:
        groups, sites = fold_event_log(os.path.join(work, "eventlog"), app_id)
        metrics = traced_metrics(layers, out, groups, catalog_ms)
        metrics["session.start_s"] = session_s
        metrics["session.jvm_peak_rss_mb"] = rss
        record["jobs_by_call_site"] = {
            f"{layers.layer_of(g)} | {site}": n
            for (g, site), n in sorted(sites.items(), key=lambda kv: -kv[1])
            if layers.layer_of(g) == "gtfs.pipeline"
        }
        untraced = history(key)
        record["trace_overhead_pct"] = (
            (out["suite_s"] / statistics.median(untraced) - 1) * 100 if untraced else None
        )
        record["trace_overhead_baseline"] = {"key": key, "untraced_runs": len(untraced)}
        units = per_layer_units()
    else:
        history(key, out["passes_s"][0])
        metrics = {"setup_s": setup_s, "suite_s": out["suite_s"]}
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_env(work, bool(args.trace))
        sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
        os.chdir(work)  # Spark's default warehouse and metastore dirs land here
        record, result = measure(args, work, env)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
