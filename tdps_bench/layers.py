"""Layer spans around the benchmark's calls into the program, and the fold
of Spark's event log into per-layer counters.

A span covers one call into one module's public functions. Its Spark jobs
carry the job group ``<layer>:<label>``, so the event log of a traced run
attributes every job, stage and task to the layer that launched it.
Streaming micro-batches run under the query's ``runId`` as job group
(Spark sets it), so they are attributed through :meth:`Layers.alias`.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

#: Job group for jobs the harness itself launches (set-up, checks).
HARNESS = "harness"

#: Suffixes folded from the event log for each layer.
COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_mb", "spill_mb", "written_mb")


@dataclass
class Span:
    layer: str
    label: str
    phase: str  # "build": the call returns a plan; "exec": it runs one
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Layers:
    """Records spans and tags the jobs launched inside each one."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.aliases: dict[str, str] = {}
        self.progress: list = []  # StreamingQueryProgress of drained streams
        self._muted = False
        self._group(HARNESS)

    def _group(self, group: str) -> None:
        # The job group alone: setJobGroup would also overwrite the job
        # description, which carries Spark's call site.
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def muted(self):
        """Calls made inside record no span; their jobs count as the
        harness's (the warm-up before the timed passes)."""
        self._muted = True
        try:
            yield
        finally:
            self._muted = False

    @contextmanager
    def span(self, layer: str, label: str = "", phase: str = "exec"):
        if self._muted:
            yield
            return
        group = f"{layer}:{label}" if label else layer
        self._group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(layer, label, phase, t0, time.perf_counter()))
            self._group(HARNESS)

    def alias(self, group: str, layer: str) -> None:
        """Attribute jobs of a group Spark sets itself (a stream's runId)."""
        self.aliases[group] = layer

    def seconds(self, layer: str, phase: str | None = None) -> float:
        return sum(
            s.seconds
            for s in self.spans
            if s.layer == layer and (phase is None or s.phase == phase)
        )

    def layer_of(self, group: str) -> str:
        if group in self.aliases:
            return self.aliases[group]
        return group.split(":", 1)[0]

    def by_layer(self, per_group: dict) -> dict:
        """Sum :func:`fold_event_log`'s per-group counters per layer."""
        out: dict[str, dict[str, float]] = {}
        for group, counters in per_group.items():
            acc = out.setdefault(self.layer_of(group), dict.fromkeys(COUNTERS, 0.0))
            for k, v in counters.items():
                acc[k] += v
        return out


def timed_passes(fn, seconds: float, once: bool) -> tuple[list[float], object]:
    """Call ``fn(i)`` for passes i = 0, 1, ... until ``seconds`` have
    passed, or once if ``once``; returns each pass's wall and the last
    pass's result."""
    walls: list[float] = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        last = fn(len(walls))
        walls.append(time.perf_counter() - t)
        if once or time.perf_counter() - t0 >= seconds:
            return walls, last


def fold_event_log(log_dir: str, app_id: str) -> tuple[dict, dict]:
    """Fold the event log of application ``app_id`` under ``log_dir`` into
    counters per job group.

    Returns ``(per_group, per_call_site)``: ``per_group[group][counter]``
    for every counter in :data:`COUNTERS` (jobs without a group count under
    :data:`HARNESS`), and job counts per ``(group, Spark call site)``.
    """
    (path,) = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    stage_layer: dict[int, str] = {}
    sql_site: dict[str, str] = {}  # SQL execution id -> its call site
    per_layer: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    per_site: dict[tuple[str, str], int] = defaultdict(int)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart"):
                sql_site[str(ev["executionId"])] = ev.get("description", "?")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                layer = props.get("spark.jobGroup.id") or HARNESS
                per_layer[layer]["jobs"] += 1
                site = props.get("callSite.short") or sql_site.get(
                    props.get("spark.sql.execution.id"), "?"
                )
                per_site[(layer, site)] += 1
                for sid in ev["Stage IDs"]:
                    stage_layer[sid] = layer
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                layer = stage_layer.get(info["Stage ID"], HARNESS)
                per_layer[layer]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev["Stage ID"], HARNESS)
                m = ev.get("Task Metrics") or {}
                acc = per_layer[layer]
                acc["tasks"] += 1
                acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                shuffle = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_mb"] += shuffle.get("Shuffle Bytes Written", 0) / 1e6
                acc["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                out = m.get("Output Metrics") or {}
                acc["written_mb"] += out.get("Bytes Written", 0) / 1e6
    return dict(per_layer), dict(per_site)
