"""The bench.py command line, run in a fresh process whose last stdout
line is the size-bounded summary. ``--only`` selects
queries, prints one ledger row per query before that line and leaves
BENCH_FULL.json alone; every row, a streaming one included, carries the
per-query counters folded from Spark's event log, jobs that a query
runs on its own threads or as stream micro-batches included."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = [
    "tpch_q6_revenue_change", "nation_trade_pagerank", "streaming_hourly_rollup", "mv_refresh",
]
LEDGER = {
    "build_s", "exec_s", "jobs", "stages", "tasks",
    "executor_cpu_s", "shuffle_mb", "spill_mb",
}


def test_bench_only_prints_ledger_and_keeps_bench_full(sf_dir, tmp_path):
    full = os.path.join(REPO, "BENCH_FULL.json")
    with open(full, "rb") as f:
        before = f.read()
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_CPUS": "2",
    }
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "bench.py"), "--only", *NAMES],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,  # one process group: bench and its JVM
    )
    try:
        out, err = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    assert proc.returncode == 0, err[-3000:]

    lines = out.strip().splitlines()
    assert len(lines[-1]) <= 1900
    summary = json.loads(lines[-1])
    assert sorted(summary["queries"]) == sorted(NAMES)
    rows = {r["query"]: r for r in map(json.loads, lines[:-1])}
    assert sorted(rows) == sorted(NAMES)
    for name, row in rows.items():
        assert set(row) - {"query"} == LEDGER, name
        assert row["jobs"] >= 1, name
    # One of the streaming query's jobs runs on the caller's thread (the
    # noop write; its events schema is recorded by an earlier rep); the
    # rest are micro-batches, which run under the stream's runId.
    assert rows["streaming_hourly_rollup"]["jobs"] >= 2
    # mv_refresh writes and reads back three views from a thread pool:
    # at least six jobs, none left outside the query's job group.
    assert rows["mv_refresh"]["jobs"] >= 6
    assert "the ledger misses" not in err

    with open(full, "rb") as f:
        assert f.read() == before
