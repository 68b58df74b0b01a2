"""One benchmark process: set-up, measurement, verification, and (with
``--trace 1``) the traced run that yields the per-layer metrics."""

from __future__ import annotations

import os
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import workloads as W
from perfbench.measure import LAYER_UNITS, median, percentile, window_latencies
from perfbench.spans import Tracer


TRACE_DRAIN_S = 0.5  # lets the listener bus deliver the last job events


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics_e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=lambda: dict.fromkeys(LAYER_UNITS, 0.0))
    notes: list = field(default_factory=list)
    settle_walls: list = field(default_factory=list)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def _attempt(fn, *args) -> bool:
    """Run one unit of work; an exception is a failed attempt."""
    try:
        result = fn(*args)
        return True if result is None else bool(result)
    except Exception:  # noqa: BLE001 — counted, reported, and the run goes on
        traceback.print_exc(file=sys.stderr)
        return False


def setup(workload: str, in_dir: str, truth: dict, work: str, t_import: float, res: Result):
    """The cold set-up: from the walex_spark import through the JVM
    launch and the session to one verified static microbatch of the
    stream's first file on that fresh JVM and its fresh Python workers."""
    spark = W.session(work)
    t1 = time.perf_counter()
    res.record(_attempt(W.warm, spark, workload, in_dir, truth, work, 1, 1))
    t2 = time.perf_counter()
    res.layer["session.get_spark_s"] = t1 - t_import
    res.layer["session.warmup_s"] = t2 - t1
    res.notes.append(f"setup_s {t2 - t_import} get_spark_s {t1 - t_import} "
                     f"warm_pass_s {t2 - t1}")
    return spark, t2 - t_import


def settle(spark, workload: str, in_dir: str, truth: dict, work: str, res: Result) -> None:
    """Untimed, verified static microbatches between set-up and measurement."""
    t = time.perf_counter()
    passes, n_files = W.SETTLE_PASSES[workload]

    def passes_ok():
        res.settle_walls = W.warm(spark, workload, in_dir, truth, work, passes, n_files)

    res.record(_attempt(passes_ok))
    res.layer["bench.settle_s"] = time.perf_counter() - t
    res.notes.append(f"settle walls_s {res.settle_walls}")


def run(args, in_dir: str, truth: dict, work: str, t_import: float) -> Result:
    res = Result()
    spark, setup_s = setup(args.workload, in_dir, truth, work, t_import, res)
    res.metrics_e2e["setup_s"] = setup_s
    try:
        settle(spark, args.workload, in_dir, truth, work, res)
        tracer = Tracer(spark.sparkContext) if args.trace else None
        spark = run_stream(spark, args, in_dir, truth, work, res, tracer)
    finally:
        W.shutdown_jvm(spark)
    return res


def _per_file(loop, stamps: dict, base_us: int) -> dict[int, int]:
    """Changes a microbatch received, by input file. A file lands
    atomically, so each one appears whole in exactly one batch."""
    out: dict[int, int] = {}
    for stamp, n in stamps.items():
        k = loop.file_of(stamp, base_us)
        out[k] = out.get(k, 0) + n
    return out


def run_stream(spark, args, in_dir, truth, work, res: Result, tracer: Tracer | None):
    """The open loop, its checks and metrics. Returns the session still
    running (the traced ``wal_stream`` run ends on a ``local[1]`` one)."""
    stream = W.STREAMS[args.workload](spark, in_dir, truth, work, tracer)
    with W.traced_layers(tracer) if tracer else nullcontext():
        loop, drained = stream.run(trace_second_half=tracer is not None)
    for b in stream.batches:
        b["files"] = _per_file(loop, b.get("stamps", {}), truth["base_us"])
        res.record(set(b["files"].values()) == {truth["per_file"]} and stream.batch_ok(b))
    res.record(drained and _attempt(stream.final_ok))

    window = [b for b in stream.batches if any(loop.in_window(k) for k in b["files"])]
    lat, delivered = window_latencies(
        loop, [(b["t_done"], b.get("stamps", {})) for b in stream.batches],
        truth["base_us"], W.STREAM_GRACE_S)
    offered = truth["measured_files"] * truth["per_file"]
    p50, n = percentile(lat, 50)
    p99, _ = percentile(lat, 99)
    walls = [b["t_done"] - b["t_start"] for b in window]
    res.notes.append(f"latency samples {n} microbatches {len(window)} delivered {delivered}/{offered}")
    res.notes.append(f"microbatch walls_s {walls} all starts_s "
                     f"{[round(b['t_start'] - loop.t0, 3) for b in stream.batches]}")
    res.metrics_e2e.update(
        # from the first window change's creation to the last window
        # batch's completion: a backlog or slower batches lower it
        changes_per_s=delivered / (max(b["t_done"] for b in window)
                                   - loop.due(truth["warmup_files"] - 1)),
        latency_p50_ms=p50,
        latency_p99_ms=p99,
        delivered_ratio=delivered / offered,
    )
    if tracer is None:
        return spark
    time.sleep(TRACE_DRAIN_S)
    tracer.collect_spark_stats()
    tracer.write(os.path.join(work, f"spans-{args.workload}.json"))
    res.layer.update(W.layer_metrics(tracer))
    waits = [(b["t_start"] - loop.landed[k]) * 1000 for b in window for k in b["files"]]
    res.layer.update({
        "envelope.stream.files_per_batch": median([len(b["files"]) for b in window]),
        "envelope.stream.queue_wait_ms_p50": percentile(waits, 50)[0],
        "bench.generator.late_ms_max": loop.late_ms_max(),
        "stream.microbatch.count": float(len(window)),
        "stream.microbatch.wall_ms_p50": median(walls) * 1000,
    })
    traced = [b for b in window if b["traced"]]
    untraced = [b for b in window if not b["traced"]]
    if traced and untraced:  # a window of one trigger has no untraced half
        res.layer["trace.overhead_ratio"] = (
            median([b["t_done"] - b["t_start"] for b in traced])
            / median([b["t_done"] - b["t_start"] for b in untraced]) - 1.0)
    res.layer.update(stream.layer_metrics(tracer, traced))
    if not stream.LOCAL1_BASELINE:
        return spark
    # the local[1] baseline: the settle microbatch again, on one core
    spark.stop()
    spark = W.session(work, master="local[1]")
    n_files = W.SETTLE_PASSES[args.workload][1]
    local1: list[float] = []

    def baseline():
        W.warm(spark, args.workload, in_dir, truth, work, 1, 1)
        local1.extend(W.warm(spark, args.workload, in_dir, truth, work, 1, n_files))

    res.record(_attempt(baseline))
    if local1 and res.settle_walls:
        res.layer["scaling.local1_speedup"] = local1[0] / res.settle_walls[-1]
    res.notes.append(f"{spark.sparkContext.master} walls_s {local1}")
    return spark
