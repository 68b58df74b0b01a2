"""Headline benchmark: runs the engine's query registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Output contract (driver captures the LAST 2000 bytes of stdout):
  - full per-query detail is written to BENCH_DETAIL.json next to this
    file AND printed as the first stdout line (for humans / artifacts);
  - the LAST stdout line is a compact JSON summary guaranteed to fit in
    the tail window: {"metric", "value", "unit", "sf", "n_queries",
    "n_errors", "queries": {slowest-first, truncated to byte budget}}.

Per-query failures are caught and recorded (name -> "ERROR: ..."), so a
single regressed query can never turn the whole round into a DNF.

Two deliberate r12 harness changes (declared in OPTIMIZATION_r12.md):
  - BENCH_DETAIL.json is flushed incrementally after every query, so a
    run killed by an external timeout (the r11 32-core run died at
    rc=124 with NOTHING recorded) still leaves complete per-query
    ground truth for every query that finished. The detail carries
    "partial": true until the suite completes.
  - HEAVY_OUTPUT queries are timed against the noop sink
    (df.write.format("noop")), which computes every column of every
    row, instead of count(), which lets the optimizer prune columns
    and whole subtrees (optimization guide §1.4).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Queries whose results are large: materialize distributed via count()
# instead of collect() (driver-bound).
HEAVY_OUTPUT = {
    "q_window_running_total",
    "q_window_topn_per_group",
    "q_window_lag_lead",
    "q_date_funcs",
    "q_scalar_funcs",
    "q_cdc_filter_events",
    "q_cdc_event_projection",
    "q_cdc_dedup_replay",
    "q_cdc_changes_diff",
    "q_cdc_unwatched_filters",
    "q_cdc_pg_cast",
    "q_cdc_pgoutput_decode",
    "q_cdc_toast_resolve",
    "q_cdc_event_json",
    "q_cdc_sessionize",
    "q_cdc_tumbling_window",
    "q_doc_chunks",
    "q_window_distinct",
    "q_zorder_values",
    "q_unpivot_lineitem",
    "q_events_rolling",
    "q_events_cusum",
    # sorted-neighborhood emits ~N*w candidate rows — count, don't
    # ship ~100k pairs through the driver at sf0.1
    "q_snm_blocking",
}

# Keep the final summary line comfortably inside the driver's 2000-byte
# tail capture.
SUMMARY_BYTE_BUDGET = 1600

# Queries slower than this on their first run get a re-run, reporting
# the min (anti-throttle; see the loop in main()). If the min is STILL
# above ESCALATE_FLOOR after two runs, one final run is granted — in
# r05 a throttle burst caught BOTH runs of q_quantiles and published
# 37.6s for a query whose quiet-window floor is 2.8s.
RERUN_FLOOR = 1.0
ESCALATE_FLOOR = 5.0

TIMING_POLICY = (
    f"min of up to 3 runs (re-run when 1st > {RERUN_FLOOR:.0f}s, "
    f"3rd when min > {ESCALATE_FLOOR:.0f}s)"
)


def headline_value(total: float, errors: dict):
    """The headline wall-clock, or None when any query failed.

    A crashed query contributes 0 to the sum, so a regression that
    BREAKS a query would otherwise read as a speedup to any consumer
    comparing "value" across rounds. null is unambiguous: a
    partially-failed run can never beat a clean one; per-query timings
    and n_errors still carry the detail.
    """
    return None if errors else round(total, 3)


def compact_summary(metric: str, total: float, sf, timings: dict, errors: dict) -> str:
    """Build the last-line JSON; drop fastest queries until it fits."""
    base = {
        "metric": metric,
        "value": headline_value(total, errors),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "timing": TIMING_POLICY,
    }
    # slowest first so truncation drops the uninteresting fast tail
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    keep = dict(ranked)
    while True:
        line = json.dumps({**base, "queries": {k: v for k, v in keep.items()}})
        if len(line.encode()) <= SUMMARY_BYTE_BUDGET or not keep:
            return line
        keep.pop(next(reversed(keep)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from walex_spark.queries import QUERIES
    from walex_spark.session import get_spark

    spark = get_spark("walex-bench")
    # warm the JVM + parquet footers + Python worker pool once so
    # per-query numbers measure the queries, not session bootstrap
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()

    sf_txt = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf_txt)
    except ValueError:
        sf = None

    metric = "walex_spark query-suite wall clock"
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0

    def flush_detail(partial: bool) -> dict:
        detail = {
            "metric": metric,
            "value": headline_value(total, errors) if not partial else None,
            "unit": "sec",
            "sf": sf,
            "total_ok_sec": round(total, 3),  # sum over SUCCEEDED queries only
            "timing": TIMING_POLICY,
            "queries": timings,
            "errors": errors,
        }
        if partial:
            detail["partial"] = True
        with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
        return detail

    for name, fn in QUERIES.items():
        # This host burst-throttles CPU 3-10x for stretches of minutes
        # (SURVEY.md §9/§12.2): a one-shot timing is a lottery ticket,
        # not a plan cost. Queries whose first run exceeds RERUN_FLOOR
        # run once more and report the MIN — the least-throttled
        # observation. Cheap queries skip the re-run (their noise
        # doesn't move the sum). The summary carries "timing" so the
        # policy is explicit to any consumer comparing rounds.
        try:
            best = None
            for attempt in range(3):
                t0 = time.time()
                df = fn(spark, sf_dir)
                if name in HEAVY_OUTPUT:
                    # §1.4: noop computes every column of every row;
                    # count() let the optimizer prune columns and
                    # sometimes whole subtrees out of the timing
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.collect()
                took = time.time() - t0
                best = took if best is None else min(best, took)
                if best <= RERUN_FLOOR:
                    break
                if attempt == 1 and best <= ESCALATE_FLOOR:
                    break
            timings[name] = round(best, 3)
            total += timings[name]
        except Exception as exc:  # noqa: BLE001 — bench must never DNF
            errors[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
        # incremental flush: a killed run still leaves per-query ground
        # truth for everything that finished (r11's 32-core run was
        # killed with nothing recorded)
        flush_detail(partial=True)

    detail = flush_detail(partial=False)
    # detail first (head may be truncated by tail capture — that's fine),
    # compact summary LAST so the tail window always contains one
    # complete parseable JSON line.
    print(json.dumps(detail))
    sys.stdout.flush()
    spark.stop()
    print(compact_summary(metric, total, sf, timings, errors))


if __name__ == "__main__":
    main()
