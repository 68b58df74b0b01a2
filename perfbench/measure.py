"""Pure measurement helpers: percentiles with sample counts, failure
ratios, the open-loop window bookkeeping, and a process-tree RSS
sampler. Nothing here imports Spark, so the benchmark's own logic is
testable without a JVM."""

from __future__ import annotations

import math
import os
import threading
from dataclasses import dataclass, field

# metric name -> unit; BENCHMARK.json lists the same names and units
END_TO_END_UNITS = {
    "setup_s": "s", "changes_per_s": "1/s", "latency_p50_ms": "ms",
    "latency_p99_ms": "ms", "delivered_ratio": "ratio",
}
# per-layer metrics of the traced run; a layer the workload does not
# exercise reports 0
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "bench.settle_s": "s",
    "pgoutput.collect_registry.self_s": "s",
    "pgoutput.decode_frames.self_s": "s",
    "pgoutput.decode_frames.frames_in": "count",
    "pgoutput.decode_frames.rows_out": "count",
    "pgoutput.decode_frames.fallback_frames": "count",
    "pgoutput.stamp_transactions.self_s": "s",
    "pgoutput.stamp_transactions.spark_jobs": "count",
    "pgoutput.stamp_transactions.shuffle_bytes": "bytes",
    "txn_assembly.assemble.self_s": "s",
    "txn_assembly.assemble.txns_out": "count",
    "txn_assembly.assemble.shuffle_bytes": "bytes",
    "envelope.read.rows": "count",
    "envelope.stream.files_per_batch": "count",
    "envelope.stream.queue_wait_ms_p50": "ms",
    "transforms.dedup_replay.self_s": "s",
    "transforms.dedup_replay.dup_dropped_ratio": "ratio",
    "transforms.filter_and_cast.self_s": "s",
    "transforms.filter_and_cast.selectivity": "ratio",
    "pg_types.record_struct.self_s": "s",
    "pg_types.record_struct.cast_ok_ratio": "ratio",
    "engine.process_batch.self_s": "s",
    "engine.process_batch.spark_jobs": "count",
    "engine.process_batch.registrations": "count",
    "materialize.process_batch.self_s": "s",
    "materialize.process_batch.spark_jobs": "count",
    "materialize.process_batch.buckets_rewritten_ratio": "ratio",
    "materialize.process_batch.rows_written_per_change": "ratio",
    "materialize.process_batch.bytes_written": "bytes",
    "materialize.process_batch.state_rows": "count",
    "spark.failed_tasks": "count",
    "process.peak_rss_mb": "MB",
    "bench.generator.late_ms_max": "ms",
    "stream.microbatch.count": "count",
    "stream.microbatch.wall_ms_p50": "ms",
    "trace.overhead_ratio": "ratio",
    "scaling.local1_speedup": "ratio",
}


def percentile(values, q: float) -> tuple[float, int]:
    """(q-th percentile by linear interpolation, sample count).

    Raises on an empty sample: a percentile of nothing is a bug in the
    caller, never a zero."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def median(values) -> float:
    return percentile(values, 50.0)[0]


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


@dataclass
class OpenLoop:
    """Bookkeeping of one open-loop run.

    File ``k`` is due at ``t0 + (k + 1) * interval`` (it holds the
    changes created during the interval before); the first
    ``warmup_files`` are excluded from every window metric. Times are
    ``time.perf_counter`` seconds."""

    t0: float
    interval: float
    warmup_files: int
    measured_files: int
    landed: dict[int, float] = field(default_factory=dict)

    def due(self, k: int) -> float:
        return self.t0 + (k + 1) * self.interval

    def in_window(self, k: int) -> bool:
        return self.warmup_files <= k < self.warmup_files + self.measured_files

    @property
    def window_end(self) -> float:
        return self.due(self.warmup_files + self.measured_files - 1)

    def late_ms_max(self) -> float:
        """How far behind schedule the generator dropped a file."""
        return max(((t - self.due(k)) * 1000.0 for k, t in self.landed.items()), default=0.0)

    def stamp_to_clock(self, stamp_us: int, base_us: int) -> float:
        """A change's creation stamp (µs after ``base_us``) on the clock."""
        return self.t0 + (stamp_us - base_us) / 1e6

    def file_of(self, stamp_us: int, base_us: int) -> int:
        return int((stamp_us - base_us) // int(self.interval * 1e6))


def window_latencies(loop: OpenLoop, batches, base_us: int, grace_s: float):
    """Latency samples (ms) of the measured window's changes, and the
    delivered count.

    ``batches``: iterable of ``(t_done, {stamp_us: n_changes})`` — one
    entry per microbatch, ``t_done`` when both its handler dispatch and
    its state flip had completed. A window change counts as delivered
    when its batch completed within ``grace_s`` of the window's end."""
    lat: list[float] = []
    delivered = 0
    deadline = loop.window_end + grace_s
    for t_done, stamps in batches:
        for stamp, n in stamps.items():
            if not loop.in_window(loop.file_of(stamp, base_us)):
                continue
            lat.extend([(t_done - loop.stamp_to_clock(stamp, base_us)) * 1000.0] * n)
            if t_done <= deadline:
                delivered += n
    return lat, delivered


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid(), self._page))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int, page: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue  # exited meanwhile
    return total
