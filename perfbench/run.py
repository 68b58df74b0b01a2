#!/usr/bin/env python3
"""CDC-path benchmark for walex_spark.

    python3 perfbench/run.py --workload {wal_stream,stream_merge}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates (or reuses) the seeded inputs,
pins the Spark environment, sets up a cold session, then
measures the workload for ``--seconds`` and checks every output against
the generator's truth. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
WORKLOADS = ("wal_stream", "stream_merge")

def pin_environment() -> dict:
    """Spark settings for this host, exported before walex_spark is
    imported (``walex_spark.session`` reads SPARK_GRAFT_CPUS at import).
    Every file Spark writes lands under the benchmark's work dir."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / (1024 * 1024)
    # a quarter of the box, at most 4g: the inputs are small and the
    # machine is shared with other work
    mem_gb = max(1, min(4, int(total_gb // 4)))
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers forked by the JVM import walex_spark from here
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(settings)
    for d in ("spark-local", "tmp", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    return settings


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    settings = pin_environment()
    sys.path.insert(0, ROOT)
    from perfbench import gen

    inputs = os.path.join(WORK, "inputs")
    in_dir, truth = gen.materialize(args.workload, args.seed, inputs, seconds=args.seconds)

    t_import = time.perf_counter()  # set-up starts here; generation is excluded
    import walex_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(walex_spark.__file__))) != ROOT:
        print(f"walex_spark imported from {walex_spark.__file__}, not this checkout",
              file=sys.stderr)
        return 2
    from perfbench import harness
    from perfbench.measure import END_TO_END_UNITS, LAYER_UNITS, RssSampler, failed_ratio

    with RssSampler() as rss:
        result = harness.run(args, in_dir, truth, WORK, t_import)
    result.layer["process.peak_rss_mb"] = rss.peak_mb

    metrics = result.layer if args.trace else result.metrics_e2e
    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    for line in result.notes:
        print(line)
    print(f"settings {json.dumps(settings, sort_keys=True)}")
    print(f"{args.workload} failed_ratio = {failed_ratio(result.failed, result.attempted)} "
          f"({result.failed}/{result.attempted} iterations, microbatches and checks)")
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value} {units[name]}")
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
