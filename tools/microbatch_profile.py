#!/usr/bin/env python3
"""Where a warm CDC microbatch spends its time, read from Spark's status
store.

    python3 tools/microbatch_profile.py --workload {wal_stream,stream_merge}
        [--reps R]

Runs static microbatches of one trigger's worth of input files of the
benchmark stream (seed ``SEED``) through the workload's ``process``, as
``perfbench/workloads.py::warm`` does: ``WARM`` untimed passes, then
``--reps`` measured ones, all in one JVM. Each pass has a fresh
workload object, so a ``stream_merge`` pass merges into a fresh sink
directory and the sink's ``applied`` mark skips nothing. A
``stream_merge`` pass reads its files as one relation, as the
streaming file source plans a microbatch (``StreamMerge.read_static``
unions one read per file, which plans and runs slower).

Each measured microbatch runs under its own Spark job group. Printed
per microbatch: its wall time, its job count, the time inside jobs (the
union of the jobs' intervals) and the driver-only rest. Printed per
stage: duration, task count, executor run time and executor JVM CPU
time. A Python stage (``mapInArrow``, ``mapInPandas``, a Python RDD)
shows a run time far above its CPU time: its JVM tasks wait on Python
workers. Inputs and Spark's local files go under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DRAIN_S = 0.5  # lets the listener bus deliver the last job and stage events
SEED = 1
WARM = 3  # untimed passes before the measured ones


def _ms(option_date) -> int | None:
    """A status-store ``Option[Date]`` in epoch milliseconds."""
    return option_date.get().getTime() if option_date.isDefined() else None


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, hi = 0, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total


def profile(sc, group: str) -> tuple[list[tuple[int, int]], list[dict]]:
    """The job intervals and the stages of one job group."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs, stages = [], []
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        job = store.job(jid)
        start, end = _ms(job.submissionTime()), _ms(job.completionTime())
        if start is not None and end is not None:
            jobs.append((start, end))
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted stage
                continue
            start, end = _ms(st.submissionTime()), _ms(st.completionTime())
            stages.append({
                "job": jid,
                "stage": sid,
                "status": st.status().toString(),
                "ms": None if start is None or end is None else end - start,
                "tasks": st.numCompleteTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": st.executorCpuTime() / 1e6,
                "name": st.name(),
            })
    return jobs, stages


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("wal_stream", "stream_merge"))
    p.add_argument("--reps", type=int, default=6)
    args = p.parse_args(argv)

    from perfbench import run as bench

    bench.pin_environment()
    from perfbench import gen

    in_dir, truth = gen.materialize(args.workload, SEED,
                                    os.path.join(bench.WORK, "inputs"), seconds=16)
    from perfbench import workloads as W
    from walex_spark.model import CHANGE_ENVELOPE_SCHEMA

    class OneRelationMerge(W.StreamMerge):
        def read_static(self, paths):
            return self.spark.read.schema(CHANGE_ENVELOPE_SCHEMA).parquet(*paths)

    stream = OneRelationMerge if args.workload == "stream_merge" else W.WalStream
    n_files = gen.FILES_PER_TRIGGER
    work = os.path.join(bench.WORK, "profile")
    spark = W.session(bench.WORK)
    sc = spark.sparkContext
    try:
        walls = {}
        for rep in range(-WARM, args.reps):
            group = f"microbatch-profile-{rep}"
            sc.setJobGroup(group, f"{args.workload} microbatch {rep}")
            try:
                walls[group] = stream(spark, in_dir, truth, work).warm(1, n_files)[0] * 1000
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(DRAIN_S)

        print(f"{args.workload}: {n_files} files per microbatch, seed {SEED}, "
              f"{sc.master}, {args.reps} measured after {WARM} warm")
        rows = []
        for rep in range(args.reps):
            group = f"microbatch-profile-{rep}"
            jobs, stages = profile(sc, group)
            in_job = _union_ms(jobs)
            wall = walls[group]
            rows.append((wall, len(jobs), in_job, wall - in_job))
            print(f"\nmicrobatch {rep}: wall {wall:.0f} ms, {len(jobs)} jobs, "
                  f"in jobs {in_job} ms, driver only {wall - in_job:.0f} ms")
            print(f"  {'job':>5} {'stage':>5} {'status':>8} {'ms':>6} {'tasks':>5} "
                  f"{'run_ms':>7} {'cpu_ms':>7}  name")
            for s in stages:
                ms = "-" if s["ms"] is None else str(s["ms"])
                print(f"  {s['job']:>5} {s['stage']:>5} {s['status']:>8} {ms:>6} "
                      f"{s['tasks']:>5} {s['run_ms']:>7} {s['cpu_ms']:>7.0f}  {s['name']}")
        if rows:
            cols = list(zip(*rows))
            print(f"\nmedian over {len(rows)}: wall {median(cols[0]):.0f} ms, "
                  f"jobs {median(cols[1]):g}, in jobs {median(cols[2]):.0f} ms, "
                  f"driver only {median(cols[3]):.0f} ms")
    finally:
        W.shutdown_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
