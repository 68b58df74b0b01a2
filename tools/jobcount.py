"""Throttle-independent overhead metric: Spark jobs / stages / tasks
per query.

The sandbox burst-throttles CPU 3-10x (SURVEY §9), so wall-clock
comparisons of two code versions need a calm window for BOTH runs.
Job/stage/task counts are a property of the PLAN and the action
sequence — identical under any throttle — and at sf0.1 (tiny data,
fixed per-job and per-task scheduling overhead) they are also the
dominant cost driver. Fewer jobs/stages at equal semantics is a real
win locally AND at 100 TB (each job is a synchronization barrier;
each stage boundary an exchange or materialization).

Usage: python tools/jobcount.py [--sf DIR] name [name...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", metavar="PATH")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from bench import HEAVY_OUTPUT
    from walex_spark.queries import QUERIES
    from walex_spark.session import get_spark

    spark = get_spark("walex-jobcount")
    sc = spark.sparkContext
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()

    tracker = sc.statusTracker()
    print(f"{'query':35} {'jobs':>6} {'stages':>7} {'tasks':>7}")
    report = {}
    for name in args.names:
        if name not in QUERIES:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2
        before = set(tracker.getJobIdsForGroup(None) or [])
        sc.setJobGroup(name, name)
        df = QUERIES[name](spark, args.sf)
        df.count() if name in HEAVY_OUTPUT else df.collect()
        sc.setJobGroup(None, None)
        jobs = [j for j in (tracker.getJobIdsForGroup(name) or []) if j not in before]
        n_stages = n_tasks = 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        print(f"{name:35} {len(jobs):6d} {n_stages:7d} {n_tasks:7d}")
        report[name] = {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}
    if args.json:
        with open(args.json, "w") as f:
            json.dump(report, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
