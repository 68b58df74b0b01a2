"""In-memory span tracer for the benchmark's traced run.

A span wraps one call into a layer's public function: name, start,
end, parent and a key (workload/iteration). Each span owns a Spark job
group, so the jobs, stages, failed tasks and shuffle/output bytes it
caused are read back from outside — ``statusTracker`` plus the app
status store — once the run ends. Self time is the span's duration
minus the union of its children's intervals.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    key: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    stages: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it covered by its children."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


class Tracer:
    """Records spans; ``sc`` (a SparkContext) is optional so the span
    arithmetic is usable without Spark."""

    def __init__(self, sc=None):
        self.sc = sc
        self.active = False  # spans are recorded only while active
        self.key = ""  # workload/iteration of the spans opened next
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(next(self._ids), name, self.key, parent.id if parent else None,
                     time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(s.group if s else "perfbench-untraced", s.name if s else "")

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_s(self, span: Span) -> float:
        return self_time(span, self.children(span))

    def collect_spark_stats(self) -> None:
        """Attach jobs / stages / failed tasks / bytes to every span.

        Run once at the end: the status store is fed asynchronously by
        the listener bus, so reading it per span would race."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for jid in s.jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    s.stages += 1
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        s.failed_tasks += stage.numFailedTasks
                    try:
                        data = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — skipped/evicted stage
                        continue
                    s.shuffle_bytes += data.shuffleWriteBytes()
                    s.output_bytes += data.outputBytes()
                    s.output_records += data.outputRecords()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=self.self_s(s)) for s in self.spans], f)
