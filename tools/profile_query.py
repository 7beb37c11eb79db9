#!/usr/bin/env python
"""Profile named registry queries exactly the way bench.py times them
(multi-file mirror fixtures, noop sink, warm JVM) and dump
``explain("formatted")`` per query.

Usage:
  python tools/profile_query.py q1 q2 ...        # time + plan to stdout
  python tools/profile_query.py --top 20         # slowest-by-net from BENCH_FULL
  python tools/profile_query.py --plans-dir /tmp/plans --suffix before q1 q2
  python tools/profile_query.py --reps 3 q1      # best-of-3
  python tools/profile_query.py --jobs q1        # per-job wall breakdown
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--jobs", action="store_true", help="print per-job times")
    args = ap.parse_args()

    from transit_data_pipeline_spark.operators.registry import all_specs
    from transit_data_pipeline_spark.session import get_spark

    import bench

    specs = all_specs()
    names = list(args.names)
    if args.top:
        full = json.load(open(os.path.join(REPO, "BENCH_FULL.json")))
        net = full.get("queries_net", full["queries"])
        names += [
            n
            for n, _ in sorted(net.items(), key=lambda kv: -kv[1])[: args.top]
            if n not in names
        ]
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("transit-spark-profile")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = bench._mirror_fixtures(spark, sf_dir)

    # Same warmups as bench.py: JVM/parquet, Python worker pool.
    specs["perf_ranking_trends"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def _noop_pdf(it):
        yield from it

    spark.range(256).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(_noop_pdf, "id long").write.format("noop").mode(
        "overwrite"
    ).save()

    sc = spark.sparkContext
    results = {}
    for name in names:
        spec = specs[name]
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = spec.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        if args.no_time:
            continue
        best = None
        tracker = sc.statusTracker()
        for _ in range(max(1, args.reps)):
            before_jobs = set(tracker.getJobIdsForGroup(None) or [])
            sc.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            sc.setJobDescription(None)
            best = el if best is None else min(best, el)
        results[name] = round(best, 3)
        print(f"{best:8.3f}s  {name}", flush=True)
        if args.jobs:
            # rough per-job wall times from the status tracker
            for jid in sorted(set(tracker.getJobIdsForGroup(None) or []) - before_jobs):
                info = tracker.getJobInfo(jid)
                if info:
                    sinfos = [
                        tracker.getStageInfo(s) for s in info.stageIds
                    ]
                    ntasks = sum(si.numTasks for si in sinfos if si)
                    print(f"    job {jid}: stages={len(info.stageIds)} tasks={ntasks}")
    if results:
        print(json.dumps(results))


if __name__ == "__main__":
    main()
