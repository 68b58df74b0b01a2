"""The CDC workloads, run against walex_spark's public API.

Import only after ``run.pin_environment()``: ``walex_spark.session``
reads ``SPARK_GRAFT_CPUS`` at import time.
"""

from __future__ import annotations

import functools
import os
import shutil
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from walex_spark.functions import pg_types
from walex_spark.operators import transforms
from walex_spark.session import get_spark
from walex_spark.sources import envelope, pgoutput
from walex_spark.streaming import txn_assembly
from walex_spark.streaming.engine import WalExEngine
from walex_spark.streaming.materialize import ParquetStateSink

from perfbench import gen
from perfbench.measure import OpenLoop, descendants, median
from perfbench.spans import Tracer

# untimed static microbatches between set-up and measurement while the
# JIT settles: (passes, files per pass). With JIT_OPTS a wal_stream
# microbatch of one trigger's files is near its steady time from the second.
SETTLE_PASSES = {"wal_stream": (2, gen.FILES_PER_TRIGGER), "stream_merge": (2, 1)}
# C2 compiles after a tenth of its default invocation counts: Spark's JVM
# reaches its steady state in a few iterations instead of ~10, which a
# run of a minute could not afford (a long-running stream gets there
# anyway; the benchmark measures that steady state)
JIT_OPTS = "-XX:CompileThresholdScaling=0.1"
# a window change counts as delivered if its microbatch is done within one
# trigger interval of the window's end, before the next trigger is due
STREAM_GRACE_S = gen.TRIGGER_S
STREAM_DRAIN_S = 40.0  # longest wait for the stream to finish the offered files
NUM_BUCKETS = 16


def _crc(*cols):
    return F.crc32(F.concat_ws("|", *[c.cast("string") for c in cols]).cast("binary"))


# -- session ------------------------------------------------------------------

def session(work: str, master: str | None = None):
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every file the JVM writes inside the checkout (no
        # /tmp/hsperfdata_<user>, no hadoop.tmp.dir under /tmp)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {JIT_OPTS}",
        "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark("perfbench", master=master, extra_conf=conf)


def shutdown_jvm(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then wait until the JVM and every process it forked
    (the Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    forked = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)  # reap it: no zombie left behind
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while forked and time.monotonic() < deadline:
        forked = [p for p in forked if _running(p)]
        time.sleep(0.1)
    for pid in forked:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- tracing: spans around calls into each layer ------------------------------

@contextmanager
def traced_layers(tracer: Tracer):
    """Patch each layer's public function so that, while the tracer is
    active, a call runs inside a span.

    A lazily planned DataFrame result is materialized (eager local
    checkpoint) inside its span, so the span's self time is that
    layer's work; row counts are taken afterwards, in a bookkeeping
    span that the parent's self time excludes. This changes the plan —
    each layer's output is computed once and reused — and the change
    is part of ``trace.overhead_ratio``."""
    # decode_frames hands every frame that leaves its inline fast path to
    # decode_message. The patched function travels inside the pickled
    # mapInPandas closure to the Python workers, which count its calls
    # into an accumulator; a span reads the count it caused.
    calls = tracer.sc.accumulator(0)
    decode_message = pgoutput.decode_message

    def counted(buf):
        calls.add(1)
        return decode_message(buf)

    patched = [
        (pgoutput, "collect_registry", "pgoutput.collect_registry"),
        (pgoutput, "decode_frames", "pgoutput.decode_frames"),
        (pgoutput, "stamp_transactions", "pgoutput.stamp_transactions"),
        (txn_assembly, "assemble_transactions", "txn_assembly.assemble"),
        (transforms, "dedup_replay", "transforms.dedup_replay"),
        (transforms, "filter_and_cast", "transforms.filter_and_cast"),
    ]
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patched]
    originals.append((pgoutput, "decode_message", decode_message))

    def wrap(fn, name):
        def call(*args, **kw):
            if not tracer.active:
                return fn(*args, **kw)
            before = calls.value
            with tracer.span(name) as s:
                out = fn(*args, **kw)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            s.counts["decode_message_calls"] = calls.value - before
            if isinstance(out, DataFrame):
                with tracer.span("trace.bookkeeping"):
                    s.counts["rows_out"] = out.count()
                    if isinstance(args[0], DataFrame):
                        s.counts["rows_in"] = args[0].count()
            return out

        return call

    for (mod, attr, name), (_, _, fn) in zip(patched, originals):
        setattr(mod, attr, wrap(fn, name))
    pgoutput.decode_message = counted
    try:
        yield
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)


@contextmanager
def span_if(tracer: Tracer | None, name: str):
    """A span when tracing is on; otherwise nothing."""
    if tracer is None or not tracer.active:
        yield None
    else:
        with tracer.span(name) as s:
            yield s


# -- open-loop streams --------------------------------------------------------------

class OpenLoopStream:
    """Open-loop stream: a dropper thread lands one input file per
    interval in a directory a streaming query reads; every microbatch
    goes through ``process``, which records in ``self._current`` when it
    was done (``t_done``) and how many changes it delivered per
    creation stamp (``stamps``)."""

    NAME = ""
    LOCAL1_BASELINE = False  # the traced run ends with a local[1] rerun of the settle batch

    def __init__(self, spark, in_dir: str, truth: dict, work: str, tracer: Tracer | None = None):
        self.spark, self.truth, self.tracer = spark, truth, tracer
        self.files = sorted(os.path.join(in_dir, "files", f)
                            for f in os.listdir(os.path.join(in_dir, "files")))
        self.dirs = {d: os.path.join(work, "stream", d) for d in ("in", "ckpt", "state")}
        shutil.rmtree(os.path.join(work, "stream"), ignore_errors=True)
        for d in self.dirs.values():
            os.makedirs(d)
        self.batches: list[dict] = []
        self.trace_from: float | None = None  # trace microbatches starting after this
        self._current: dict = {}
        self._lock = threading.Lock()

    def source(self) -> DataFrame:
        raise NotImplementedError

    def read_static(self, paths: list[str]) -> DataFrame:
        raise NotImplementedError

    def process(self, df: DataFrame, epoch: int, traced: bool) -> None:
        raise NotImplementedError

    def batch_ok(self, batch: dict) -> bool:
        """Workload-specific check of one microbatch's output."""
        return True

    def final_ok(self) -> bool:
        """Workload-specific check of the whole stream's output."""
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, traced: list[dict]) -> dict:
        """Per-layer figures only this workload has; ``traced`` are the
        window's traced microbatches."""
        return {}

    def on_batch(self, df: DataFrame, epoch: int) -> None:
        t_start = time.perf_counter()
        tracer = self.tracer
        traced = (tracer is not None and self.trace_from is not None
                  and t_start >= self.trace_from)
        if traced:
            tracer.active, tracer.key = True, f"{self.NAME}/{epoch}"
        self._current = {"epoch": epoch, "t_start": t_start, "traced": traced}
        self.process(df, epoch, traced)
        with self._lock:
            self.batches.append(self._current)

    def delivered(self) -> int:
        with self._lock:
            return sum(sum(b.get("stamps", {}).values()) for b in self.batches)

    def drop(self, loop: OpenLoop, stop: threading.Event) -> None:
        for k, path in enumerate(self.files):
            if stop.wait(max(0.0, loop.due(k) - time.perf_counter())):
                return
            name = os.path.basename(path)
            tmp = os.path.join(self.dirs["in"], f".{name}.tmp")  # hidden from the source
            shutil.copyfile(path, tmp)
            os.rename(tmp, os.path.join(self.dirs["in"], name))
            loop.landed[k] = time.perf_counter()

    def run(self, trace_second_half: bool = False) -> tuple[OpenLoop, bool]:
        truth = self.truth
        query = (self.source().writeStream.foreachBatch(self.on_batch)
                 .trigger(processingTime=f"{gen.TRIGGER_S} seconds")
                 .option("checkpointLocation", self.dirs["ckpt"]).start())
        loop = OpenLoop(aligned_start(truth["warmup_files"]), gen.FILE_INTERVAL_S,
                        truth["warmup_files"], truth["measured_files"])
        if trace_second_half:
            # the trigger that picks up the first half's last file fires
            # ~offset after it lands; the next one starts the second half
            half = truth["warmup_files"] + truth["measured_files"] // 2
            self.trace_from = loop.due(half - 1) + gen.TRIGGER_S / 2
        stop = threading.Event()
        dropper = threading.Thread(target=self.drop, args=(loop, stop), name="file-dropper")
        dropper.start()
        try:
            deadline = loop.due(len(self.files) - 1) + STREAM_DRAIN_S
            while (self.delivered() < truth["changes"] and time.perf_counter() < deadline
                   and query.exception() is None):
                time.sleep(0.1)
        finally:
            stop.set()
            dropper.join()
            query.stop()
        ok = query.exception() is None and self.delivered() == truth["changes"]
        return loop, ok

    def warm(self, passes: int, n_files: int) -> list[float]:
        """``passes`` static microbatches of the first ``n_files`` files
        through the same ``process`` (no streaming query); their walls.
        Raises unless every file arrived whole."""
        walls = []
        for epoch in range(passes):
            self.on_batch(self.read_static(self.files[:n_files]), epoch)
            b = self.batches[-1]
            walls.append(b["t_done"] - b["t_start"])
            per_file: dict[int, int] = {}
            for stamp, n in b["stamps"].items():
                k = (stamp - self.truth["base_us"]) // int(gen.FILE_INTERVAL_S * 1e6)
                per_file[k] = per_file.get(k, 0) + n
            if per_file != dict.fromkeys(range(n_files), self.truth["per_file"]):
                raise AssertionError(f"warm pass {epoch}: changes per file {per_file}")
            self.reset()
        return walls

    def reset(self) -> None:
        """Forget consumer state between static warm passes."""


class WalStream(OpenLoopStream):
    """pgoutput frame files through ``decode_envelope`` and
    ``assemble_transactions`` per microbatch. Relation messages arrive
    once, in the stream's first file (and in a later re-send), so the
    consumer keeps the relation registry across microbatches: each
    microbatch's Relation frames (``collect_registry``) are appended to
    it, and the decode runs against the whole registry."""

    NAME = "wal_stream"
    LOCAL1_BASELINE = True
    FRAME_SCHEMA = "frame_idx long, payload binary"

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.registry: dict = {}
        self.totals: dict[str, list[int]] = {}  # "table.op" -> [n, crc, txns, txn_crc]

    def source(self) -> DataFrame:
        return self.spark.readStream.schema(self.FRAME_SCHEMA).parquet(self.dirs["in"])

    def read_static(self, paths: list[str]) -> DataFrame:
        return self.spark.read.schema(self.FRAME_SCHEMA).parquet(*paths)

    def reset(self) -> None:
        self.registry, self.totals = {}, {}

    def process(self, frames: DataFrame, epoch: int, traced: bool) -> None:
        """Decode → assemble → one aggregate, the pipeline's only sink:
        per (creation stamp, table, op) the change count, an order-free
        checksum over (xid, change_idx, op, table, pk) and one over the
        assembled transactions."""
        for rel_id, (bounds, versions) in pgoutput.collect_registry(frames).items():
            have = self.registry.setdefault(rel_id, ([], []))
            have[0].extend(bounds)
            have[1].extend(versions)
        env = pgoutput.decode_envelope(frames, registry=self.registry)
        txns = txn_assembly.assemble_transactions(env)
        c = F.col("c")
        rows = (
            txns.select("xid", "n_changes", "first_lsn", "last_lsn", "commit_ts",
                        F.posexplode("changes").alias("pos", "c"))
            .groupBy(F.unix_micros("commit_ts").alias("ts"),
                     c.table.alias("table"), c.op.alias("op"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(_crc(F.col("xid"), F.col("pos"), c.op, c.table,
                           F.coalesce(c.record["id"], c.old_record["id"], F.lit("")))).alias("crc"),
                F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("txns"),
                F.sum(F.when(F.col("pos") == 0, _crc(
                    F.col("xid"), F.col("n_changes"), F.col("first_lsn"), F.col("last_lsn"),
                    F.unix_micros("commit_ts"))).otherwise(0)).alias("txn_crc"),
            )
            .collect()
        )
        self._current["t_done"] = time.perf_counter()
        stamps: dict[int, int] = {}
        for r in rows:
            stamps[r.ts] = stamps.get(r.ts, 0) + r.n
            tot = self.totals.setdefault(f"{r.table}.{r.op}", [0, 0, 0, 0])
            for i, v in enumerate((r.n, r.crc, r.txns, r.txn_crc)):
                tot[i] += v
        self._current["stamps"] = stamps

    def final_ok(self) -> bool:
        """Every change and transaction of the stream, once."""
        t = self.truth
        return (
            {k: v[0] for k, v in self.totals.items()} == t["counts"]
            and sum(v[1] for v in self.totals.values()) == t["change_checksum"]
            and sum(v[2] for v in self.totals.values()) == t["txns"]
            and sum(v[3] for v in self.totals.values()) == t["txn_checksum"]
        )


class StreamMerge(OpenLoopStream):
    """Change envelope files through ``WalExEngine.process_batch`` (one
    ``"*"`` handler, see ``_handle``) and then
    ``ParquetStateSink.process_batch``."""

    NAME = "stream_merge"
    REGISTRATIONS = 1

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.sink = ParquetStateSink(self.dirs["state"], key_cols=["id"], num_buckets=NUM_BUCKETS)
        self.engine = WalExEngine(dedup_replay=True).on_event("*", self._handle)
        self.state_rows = 0  # set by final_ok

    def source(self) -> DataFrame:
        return envelope.read_envelope_stream(self.spark, self.dirs["in"])

    def read_static(self, paths: list[str]) -> DataFrame:
        dfs = [envelope.read_envelope(self.spark, p) for p in paths]
        return functools.reduce(DataFrame.unionByName, dfs)

    def _handle(self, events: DataFrame, epoch_id: int) -> None:
        """The handler: per creation stamp, how many Events arrived and
        how many non-null cells the cast table's records had before
        (text) and after (typed) ``pg_record_struct``. One Spark job;
        a traced run materializes the cast first, in its own span."""
        cols = gen.STREAM_SCHEMAS[gen.STREAM_CAST_TABLE]
        is_cast = F.col("name") == gen.STREAM_CAST_TABLE
        typed = events.withColumn(
            "typed", F.when(is_cast, pg_types.pg_record_struct("new_record", cols)))
        with span_if(self.tracer, "pg_types.record_struct") as s:
            if s is not None:
                typed = typed.localCheckpoint(eager=True)

        def nonnull(col):
            return sum(F.when(is_cast & col[c].isNotNull(), 1).otherwise(0) for c, _ in cols)

        rows = (typed.groupBy(F.unix_micros("timestamp").alias("ts"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(nonnull(F.col("new_record"))).alias("text"),
                     F.sum(nonnull(F.col("typed"))).alias("typed"))
                .collect())
        self._current["stamps"] = {r.ts: r.n for r in rows}
        self._current["cast"] = (sum(r.text for r in rows), sum(r.typed for r in rows))

    def process(self, df: DataFrame, epoch: int, traced: bool) -> None:
        tracer = self.tracer
        before = self.sink._read_manifest() if traced else None
        with span_if(tracer, "engine.process_batch"):
            self.engine.process_batch(df, epoch)
        with span_if(tracer, "materialize.process_batch") as s:
            self.sink.process_batch(df, epoch)
        self._current["t_done"] = time.perf_counter()
        if traced:
            self._current["sink_span"] = s
            after = self.sink._read_manifest()
            self._current["buckets_rewritten"] = sum(
                1 for b, v in after.items() if before.get(b) != v)

    def batch_ok(self, batch: dict) -> bool:
        text, typed = batch.get("cast", (None, 0))
        return text == typed

    def final_ok(self) -> bool:
        """The materialized state equals the generator's final live-key
        state, and every cast cell of the stream arrived."""
        rows = self.sink.state(self.spark).select("table", "record").collect()
        pairs = [(r.table, dict(r.record)) for r in rows]
        self.state_rows = len(pairs)
        return (gen.state_digest(pairs) == self.truth["state_digest"]
                and self._cast_text() == self.truth["cast_text_nonnull"])

    def _cast_text(self) -> int:
        return sum(b.get("cast", (0, 0))[0] for b in self.batches)

    def layer_metrics(self, tracer: Tracer, traced: list[dict]) -> dict:
        out = {
            "engine.process_batch.registrations": float(self.REGISTRATIONS),
            "envelope.read.rows": layer_median(
                tracer, "transforms.dedup_replay", lambda s: s.counts.get("rows_in", 0)),
            "pg_types.record_struct.cast_ok_ratio":
                sum(b["cast"][1] for b in self.batches) / self._cast_text(),
            "materialize.process_batch.state_rows": float(self.state_rows),
        }
        if traced:
            out["materialize.process_batch.buckets_rewritten_ratio"] = median(
                [b["buckets_rewritten"] / NUM_BUCKETS for b in traced])
            out["materialize.process_batch.rows_written_per_change"] = (
                sum(b["sink_span"].output_records for b in traced)
                / sum(sum(b["stamps"].values()) for b in traced))
        return out


STREAMS = {cls.NAME: cls for cls in (WalStream, StreamMerge)}


def aligned_start(warmup_files: int, lead_s: float = 1.0, offset_s: float = 0.05) -> float:
    """``t0`` (perf_counter) for the dropper such that every file lands
    ``offset_s`` after a half-second mark of the wall clock and the first
    ``warmup_files`` land just before a trigger boundary, the first one
    at least ``lead_s`` from now. Spark fires a processing-time trigger
    at wall-clock multiples of its interval, so the first trigger picks
    up the warm-up files and every later one exactly FILES_PER_TRIGGER
    files, always at the same phase: latency does not depend on when
    the run happened to start."""
    now_wall, now_perf = time.time(), time.perf_counter()
    warmup_s = warmup_files * gen.FILE_INTERVAL_S
    # the first trigger boundary that leaves lead_s before its warm-up files
    boundary = (int((now_wall + lead_s + warmup_s) / gen.TRIGGER_S) + 1) * gen.TRIGGER_S
    # file 0 is due at t0 + interval == boundary - warmup_s + offset_s
    return now_perf + (boundary - now_wall) - warmup_s + offset_s - gen.FILE_INTERVAL_S


def warm(spark, workload: str, in_dir: str, truth: dict, work: str,
         passes: int, n_files: int) -> list[float]:
    """Static warm passes of ``workload`` (see ``OpenLoopStream.warm``)
    in a scratch directory of their own."""
    s = STREAMS[workload](spark, in_dir, truth, os.path.join(work, "warm"))
    try:
        return s.warm(passes, n_files)
    finally:
        shutil.rmtree(os.path.join(work, "warm"), ignore_errors=True)


# -- per-layer metric assembly -----------------------------------------------------

def per_iteration(tracer: Tracer, name: str, value) -> list[float]:
    """Per key (iteration / microbatch), the sum of ``value(span)``
    over that key's spans named ``name``."""
    by_key: dict[str, float] = {}
    for s in tracer.spans:
        if s.name == name:
            by_key[s.key] = by_key.get(s.key, 0.0) + value(s)
    return list(by_key.values())


def layer_median(tracer: Tracer, name: str, value) -> float:
    vals = per_iteration(tracer, name, value)
    return median(vals) if vals else 0.0


def subtree_jobs(tracer: Tracer, name: str) -> float:
    def jobs(s):
        return sum(len(c.jobs) for c in tracer.subtree(s) if c.name != "trace.bookkeeping")

    return layer_median(tracer, name, jobs)


def ratio_of_sums(tracer: Tracer, name: str, num, den) -> float:
    spans = [s for s in tracer.spans if s.name == name]
    d = sum(den(s) for s in spans)
    return sum(num(s) for s in spans) / d if d else 0.0


def layer_metrics(tracer: Tracer) -> dict:
    """Every per-layer figure the trace supports; absent layers are 0."""
    self_s = tracer.self_s
    count = lambda k: (lambda s: s.counts.get(k, 0))  # noqa: E731
    shuffle = lambda s: s.shuffle_bytes  # noqa: E731
    return {
        "pgoutput.collect_registry.self_s": layer_median(tracer, "pgoutput.collect_registry", self_s),
        "pgoutput.decode_frames.self_s": layer_median(tracer, "pgoutput.decode_frames", self_s),
        "pgoutput.decode_frames.frames_in": layer_median(tracer, "pgoutput.decode_frames", count("rows_in")),
        "pgoutput.decode_frames.rows_out": layer_median(tracer, "pgoutput.decode_frames", count("rows_out")),
        "pgoutput.decode_frames.fallback_frames": layer_median(
            tracer, "pgoutput.decode_frames", count("decode_message_calls")),
        "pgoutput.stamp_transactions.self_s": layer_median(tracer, "pgoutput.stamp_transactions", self_s),
        "pgoutput.stamp_transactions.spark_jobs": subtree_jobs(tracer, "pgoutput.stamp_transactions"),
        "pgoutput.stamp_transactions.shuffle_bytes": layer_median(tracer, "pgoutput.stamp_transactions", shuffle),
        "txn_assembly.assemble.self_s": layer_median(tracer, "txn_assembly.assemble", self_s),
        "txn_assembly.assemble.txns_out": layer_median(tracer, "txn_assembly.assemble", count("rows_out")),
        "txn_assembly.assemble.shuffle_bytes": layer_median(tracer, "txn_assembly.assemble", shuffle),
        "envelope.read.rows": layer_median(tracer, "envelope.read", count("rows_out")),
        "transforms.dedup_replay.self_s": layer_median(tracer, "transforms.dedup_replay", self_s),
        "transforms.dedup_replay.dup_dropped_ratio": 1.0 - ratio_of_sums(
            tracer, "transforms.dedup_replay", count("rows_out"), count("rows_in"))
        if per_iteration(tracer, "transforms.dedup_replay", self_s) else 0.0,
        "transforms.filter_and_cast.self_s": layer_median(tracer, "transforms.filter_and_cast", self_s),
        "transforms.filter_and_cast.selectivity": ratio_of_sums(
            tracer, "transforms.filter_and_cast", count("rows_out"), count("rows_in")),
        "pg_types.record_struct.self_s": layer_median(tracer, "pg_types.record_struct", self_s),
        "engine.process_batch.self_s": layer_median(tracer, "engine.process_batch", self_s),
        "engine.process_batch.spark_jobs": subtree_jobs(tracer, "engine.process_batch"),
        "materialize.process_batch.self_s": layer_median(tracer, "materialize.process_batch", self_s),
        "materialize.process_batch.spark_jobs": subtree_jobs(tracer, "materialize.process_batch"),
        "materialize.process_batch.bytes_written": layer_median(
            tracer, "materialize.process_batch", lambda s: s.output_bytes),
        "spark.failed_tasks": float(sum(s.failed_tasks for s in tracer.spans)),
    }

