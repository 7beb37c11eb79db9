#!/usr/bin/env python
"""Headline benchmark: run every benchmarkable registry query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Timing excludes driver-side result transfer: each query is executed
with the noop sink so the full plan (scan → shuffle → agg/window)
runs, mirroring cluster-side cost.

Output contract: the driver keeps only the LAST 2000 characters of
stdout and parses the final JSON object from it, so the summary line
is (a) printed last and (b) size-bounded — the per-query dict keeps
the slowest queries first and drops fastest entries until the line
fits. The complete per-query timing table (plus delta vs the round-1
recording) is written to BENCH_FULL.json instead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

#: Hard budget for the printed summary line (driver tail is 2000).
MAX_LINE = 1900


def _newest_mtime(path: str) -> float:
    if os.path.isdir(path):
        times = [os.path.getmtime(path)]
        for root, _dirs, files in os.walk(path):
            times += [os.path.getmtime(os.path.join(root, f)) for f in files]
        return max(times)
    return os.path.getmtime(path)


#: Target bytes per mirror file (guide §6: size output files by data
#: volume, 128 MB-1 GB at real scale; the floor of 8 keeps small-SF
#: scans parallel without splintering every stage into one task per
#: core — VERDICT r10 item 1: a 32-core run of ~600K-row tables paid
#: 32 scan tasks per stage, pure scheduling overhead).
MIRROR_TARGET_FILE_BYTES = 128 * 1024 * 1024
MIRROR_MIN_FILES = 8


def _mirror_fixtures(spark, sf_dir: str) -> str:
    """Rewrite the driver tables as multi-file parquet into a cached
    /tmp mirror and bench against THAT (VERDICT r9 item 4).

    The driver fixtures are single-row-group files — one scan task no
    matter the cluster, a layout no real table has (testdata is
    read-only, so the layout knob lives here, in the bench's own
    ingest). Fact-scale tables get ``max(8, min(dp, ceil(bytes/128MB)))``
    files: sized by data volume and capped at core count, but the floor
    of 8 wins below 8 cores. Not one file per core (VERDICT r10 item 1:
    one-file-per-core splintered every sf0.1 scan stage into 32
    scheduling-overhead tasks and made the 32-core bench slower than
    the 8-core one), so scans parallelize natively and catalog.table's
    `spread` gate stops firing; broadcast dims stay single-file. Cache
    key = fixture path + per-table file-count layout; a mirror older
    than its source is rebuilt.
    """
    import hashlib
    import shutil

    from transit_data_pipeline_spark.catalog import (
        BROADCAST_TABLES,
        TABLES,
        read_events_raw,
    )

    base = sf_dir.rstrip("/")
    dp = spark.sparkContext.defaultParallelism
    layout = {}
    for t in TABLES:
        if t in BROADCAST_TABLES:
            layout[t] = 1
            continue
        nbytes = os.path.getsize(os.path.join(base, f"{t}.parquet"))
        want = -(-nbytes // MIRROR_TARGET_FILE_BYTES)  # ceil
        layout[t] = max(MIRROR_MIN_FILES, min(dp, want))
    key = os.path.abspath(base) + "|" + repr(sorted(layout.items()))
    tag = hashlib.sha1(key.encode()).hexdigest()[:8]
    mdir = f"/tmp/tdps_bench_mirror_{os.path.basename(base)}_{tag}"
    os.makedirs(mdir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(base, f"{t}.parquet")
        out = os.path.join(mdir, f"{t}.parquet")
        if os.path.exists(out):
            if _newest_mtime(out) >= _newest_mtime(src):
                continue
            shutil.rmtree(out, ignore_errors=True)
        # events keeps its on-disk encoding contract via the raw
        # reader (TIMESTAMP(NANOS) lands as int64 nanos, the OTHER
        # encoding normalize_events accepts).
        df = (
            read_events_raw(spark, base)
            if t == "events"
            else spark.read.parquet(src)
        )
        shutil.rmtree(out + ".d", ignore_errors=True)
        df.repartition(layout[t]).write.mode("overwrite").parquet(out + ".d")
        os.rename(out + ".d", out)
    _mirror_fixtures.last_layout = layout
    return mdir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from transit_data_pipeline_spark.operators.registry import all_specs
    from transit_data_pipeline_spark.session import get_spark

    spark = get_spark("transit-spark-bench")
    sf_dir = _mirror_fixtures(spark, sf_dir)

    specs = {n: s for n, s in all_specs().items() if s.bench}
    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not first-touch JIT.
    specs["perf_ranking_trends"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # ...and the Python worker pool (one task per core), so the first
    # Arrow-UDF query doesn't pay worker spin-up in its timed run.
    def _noop_pdf(it):
        yield from it

    spark.range(256).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_noop_pdf, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    # ...and the Structured-Streaming machinery (microbatch scheduler
    # thread pool, state-store provider registry, streaming-metrics
    # listeners): a one-file drain through a stateful aggregate pays
    # the engine's one-time init so the first timed streaming query
    # measures its plan, not engine bring-up (VERDICT r7 item 6).
    import tempfile as _tf

    with _tf.TemporaryDirectory(prefix="tdps_bench_warm_") as wdir:
        spark.range(64).selectExpr("id", "id % 4 AS k").write.parquet(
            os.path.join(wdir, "src")
        )
        (
            spark.readStream.schema("id long, k long")
            .parquet(os.path.join(wdir, "src"))
            .groupBy("k")
            .count()
            .writeStream.format("memory")
            .queryName("tdps_bench_warm")
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(wdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # Session floor: median of 5 runs of a trivial query (5-row region
    # scan → noop sink). Every timed query pays this fixed per-run cost
    # (job launch, scheduler round-trip, noop-commit protocol) — ~1 s
    # locally — which drowns sub-second deltas. BENCH_FULL records
    # `queries_net` (raw − floor, clamped at 0) next to the raw table
    # so a +0.2 s round-over-round delta is distinguishable from floor
    # jitter without cross-referencing SCALING.md (VERDICT r9 item 3).
    floor_reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
            "noop"
        ).mode("overwrite").save()
        floor_reps.append(time.perf_counter() - t0)
    floor = round(sorted(floor_reps)[len(floor_reps) // 2], 3)

    # Iterative driver-loop queries compile a fresh plan per loop round,
    # so their run-to-run variance is ±40% (JIT/codegen debt) — one
    # extra rep pins their minimum to steady state and stops round-over-
    # round comparisons from chasing compile noise.
    noisy = {"corpus_curation_funnel", "dedup_components"}

    # The round-1 anchor set keeps best-of-2 semantics so the
    # comparable_total metric stays apples-to-apples across rounds.
    prev_path = os.path.join(REPO, "bench_r01_partial.json")
    anchor = set(json.load(open(prev_path))) if os.path.exists(prev_path) else set()

    timings: dict[str, float] = {}
    for name, spec in sorted(specs.items()):
        # First run pays one-off JIT / codegen-compile / GC costs.
        # Re-measure (best-of) only where that debt is material: the
        # noisy loop queries (3 reps), the r01 anchor set (its
        # recorded numbers were best-of-2), and anything whose first
        # run exceeds 1.5 s — sub-second non-anchor queries' noise is
        # absolute pennies, and skipping their re-run keeps the whole
        # suite's wall time near one pass as the registry grows.
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = time.perf_counter() - t0
        # Streaming queries always get best-of-3: the first run stages
        # scratch dirs and a fresh checkpoint AND pays family-level
        # JIT debt (state-store/file-sink codepaths) that the generic
        # warmup can't reach — measured: run 1 is 30-80% over steady
        # state, runs 2-3 sit within ~10% of it.
        reps = (
            2
            if name in noisy or name.startswith("streaming_")
            else (1 if best > 1.5 or name in anchor else 0)
        )
        for _ in range(reps):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)

    # Full table + per-query delta vs the recovered round-1 timings.
    # `comparable_total` sums only queries that existed in r1, so the
    # suite total stays apples-to-apples as new queries are added.
    prev_path = os.path.join(REPO, "bench_r01_partial.json")
    prev = json.load(open(prev_path)) if os.path.exists(prev_path) else {}
    delta = {
        n: round(timings[n] - prev[n], 3) for n in timings if n in prev
    }
    comparable = round(sum(timings[n] for n in timings if n in prev), 3)
    net = {n: round(max(0.0, t - floor), 3) for n, t in timings.items()}
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
        json.dump(
            {
                "metric": "query_suite_total",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "comparable_total_vs_r01": comparable,
                "fixture_layout": "multi-file-mirror "
                + repr(_mirror_fixtures.last_layout),
                "session_floor_sec": floor,
                "net_total": round(sum(net.values()), 3),
                "queries": timings,
                "queries_net": net,
                "delta_vs_r01": dict(
                    sorted(delta.items(), key=lambda kv: kv[1], reverse=True)
                ),
            },
            f,
            indent=1,
        )

    # Size-bounded summary: keep slowest queries, drop fastest until
    # the line fits the driver's stdout tail.
    by_cost = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    keep = dict(by_cost)
    while len(keep) > 1:
        line = json.dumps(
            {
                "metric": "query_suite_total",
                "value": total,
                "unit": "sec",
                "queries": dict(sorted(keep.items())),
                "sf": sf,
                "n_queries": len(timings),
                "comparable_total_vs_r01": comparable,
                "session_floor_sec": floor,
            },
            separators=(",", ":"),
        )
        if len(line) <= MAX_LINE:
            break
        keep.pop(by_cost[len(keep) - 1][0])
    print(line)


if __name__ == "__main__":
    main()
