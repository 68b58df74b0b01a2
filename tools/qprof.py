"""Median-of-N per-query profiler — the anti-throttle measurement tool.

Single bench passes on this host swing 3x+ between runs (documented in
SURVEY §9: the container's CPU allocation is throttled in bursts), so
one-shot timings routinely misattribute cost: this round alone, single
runs showed q08 at 69 s (real: ~2 s) and suggested an IVF rewrite was
2.3x faster when the per-action truth was the opposite. This tool runs
each query N times in one session and reports per-query median + min +
max; the MIN is the best signal for plan cost (least throttle), the
MEDIAN for expected wall clock, a wide max/min ratio flags a
throttle-contaminated window rather than a plan problem.

Usage:
  python tools/qprof.py [-n 3] [--sf /root/testdata/sf0.1] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3, help="runs per query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--json",
        metavar="PATH",
        help="also write {query: {median,min,max}} JSON to PATH",
    )
    ap.add_argument("names", nargs="*", help="default: the 10 slowest from BENCH_DETAIL.json")
    args = ap.parse_args()

    from bench import HEAVY_OUTPUT
    from walex_spark.queries import QUERIES
    from walex_spark.session import get_spark

    names = args.names
    if not names:
        try:
            with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as f:
                detail = json.load(f)["queries"]
            names = [n for n, _ in sorted(detail.items(), key=lambda kv: -kv[1])[:10]]
        except OSError:
            names = list(QUERIES)[:10]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("walex-profile")
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()

    print(f"{'query':35} {'median':>8} {'min':>8} {'max':>8}  note")
    report = {}
    for name in names:
        times = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, args.sf)
            df.count() if name in HEAVY_OUTPUT else df.collect()
            times.append(time.perf_counter() - t0)
        med, lo, hi = statistics.median(times), min(times), max(times)
        note = "THROTTLE-SUSPECT" if hi > 2.5 * lo else ""
        print(f"{name:35} {med:7.2f}s {lo:7.2f}s {hi:7.2f}s  {note}")
        report[name] = {
            "median": round(med, 3),
            "min": round(lo, 3),
            "max": round(hi, 3),
        }
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {"sf": args.sf, "runs_per_query": args.n, "queries": report},
                f,
                indent=1,
            )
            f.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
