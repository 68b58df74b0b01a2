"""Incremental JDBC polling source (BASELINE.json: "Structured
Streaming + JDBC source").

The reference holds a replication socket; with no replication protocol
available to Spark, the idiomatic equivalent is cursor-keyed
incremental JDBC polling: each poll reads only rows past the last
cursor, partitioned on the cursor column for parallel pulls, and hands
the batch to the same transform pipeline the file/Kafka envelope path
uses. The cursor is an integer column that grows with every change
(an LSN or a sequence); any other cursor value raises TypeError.

This is the one cursor poller. It runs on the driver, where Spark's
JVM JDBC reader does the remote scan; a Python DataSource reader runs
its methods in Python workers with no SparkSession, so it could not
use that reader.

Slot semantics mapping (server.ex:64-141):
  durable slot    → persisted cursor (checkpoint file) → resume + replay
                    (dedup_replay within a poll, a sink's applied mark across)
  temporary slot  → in-memory cursor → at-most-once across restarts
  slot contention → single-writer cursor file lock

tests/test_jdbc_live.py runs the real reader against embedded Apache
Derby; tests/test_streaming.py covers the cursor, lock and retry logic.
"""

from __future__ import annotations

import fcntl
import logging
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


class SlotInUseError(RuntimeError):
    """Another live poller holds this cursor's slot lock — the JDBC
    analog of Postgres rejecting a second consumer on a replication
    slot (server.ex:17, retry/backoff there; here the caller decides)."""


def _int_cursor(value: object) -> int:
    """``value`` if it is an int (not a bool), else TypeError: the
    cursor is rendered into the pushed-down SQL predicate with ``repr``,
    which is valid SQL only for an integer."""
    if type(value) is not int:
        raise TypeError(
            f"JdbcPollingSource cursor must be an int, got "
            f"{type(value).__name__}: {value!r}"
        )
    return value


@dataclass
class JdbcPollingSource:
    url: str
    table: str
    cursor_col: str  # an integer column that grows with every change
    user: str | None = None
    password: str | None = None
    driver: str | None = None  # JDBC driver class, e.g. org.postgresql.Driver
    fetch_size: int = 10_000
    num_partitions: int = 8
    checkpoint_path: str | None = None  # durable "slot"; None = temporary
    _cursor: int | None = field(default=None, init=False)

    def __post_init__(self) -> None:
        if self.checkpoint_path and os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path) as f:
                self._cursor = _int_cursor(json.load(f)["cursor"])

    @property
    def cursor(self):
        return self._cursor

    def predicate(self) -> str | None:
        """WHERE pushed into the remote scan — the JDBC pushdown analog
        of publication row filters (README.md:80-84)."""
        if self._cursor is None:
            return None
        return f"{self.cursor_col} > {self._cursor!r}"

    def dbtable_subquery(self) -> str:
        pred = self.predicate()
        where = f" WHERE {pred}" if pred else ""
        return f"(SELECT * FROM {self.table}{where}) AS walex_poll"

    def poll(
        self, spark: SparkSession, upper_bound: object | None = None
    ) -> DataFrame:
        """One microbatch: rows past the cursor.

        Spark's JDBC reader requires partitionColumn, lowerBound,
        upperBound and numPartitions all-or-none. The lower bound is
        the persisted cursor; the upper bound must come from the caller
        (typically a prior ``SELECT max(cursor)`` probe — see
        ``probe_max_sql``). When either bound is missing the read is a
        single partition rather than a crash: correct, just not
        parallel, which is fine for the common small incremental batch.
        """
        reader = (
            spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.dbtable_subquery())
            .option("fetchsize", self.fetch_size)
        )
        if self._cursor is not None and upper_bound is not None:
            reader = (
                reader.option("partitionColumn", self.cursor_col)
                .option("lowerBound", str(self._cursor))
                .option("upperBound", str(upper_bound))
                .option("numPartitions", self.num_partitions)
            )
        if self.driver:
            reader = reader.option("driver", self.driver)
        if self.user:
            reader = reader.option("user", self.user)
        if self.password:
            reader = reader.option("password", self.password)
        return reader.load()

    def probe_max_sql(self) -> str:
        """Pushdown subquery for the upper-bound probe: the remote
        computes max(cursor); one row crosses the wire."""
        return (
            f"(SELECT max({self.cursor_col}) AS max_cursor "
            f"FROM {self.table}) AS walex_probe"
        )

    # -- single-writer slot lock (server.ex:17,65-88 exclusive slot) --

    @property
    def _lock_path(self) -> str:
        if not self.checkpoint_path:
            raise ValueError("slot lock requires a durable checkpoint_path")
        return f"{self.checkpoint_path}.lock"

    def acquire_lock(self) -> None:
        """Take the slot's single-writer lock or raise SlotInUseError.

        Ownership is a kernel ``flock(2)`` on the lock file — atomic
        across racing pollers and auto-released when the owner dies, so
        abandoned-slot takeover (the reference's retry-after-disconnect,
        server.ex:65-88) needs no check-then-delete: a dead owner's
        flock is already gone, and two pollers can never both win the
        kernel lock. (The previous metadata-only protocol had a TOCTOU
        between the staleness check and the unlink that could delete a
        FRESH lock and admit two writers.)

        The JSON (pid, ts) payload in the file is observability
        metadata only, never the ownership primitive; the lock file
        itself is deliberately never unlinked (unlinking a lock file
        reopens the race via path/inode divergence).

        Same-host scope is the honest contract here: on a multi-host
        deployment, slot exclusivity is enforced server-side by the
        database's replication slot itself.
        """
        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(fd)
            raise SlotInUseError(
                f"slot lock {self._lock_path} held by a live poller"
            ) from None
        os.ftruncate(fd, 0)
        os.write(fd, json.dumps({"pid": os.getpid(), "ts": time.time()}).encode())
        os.fsync(fd)
        self._lock_fd = fd

    def acquire_lock_with_retry(
        self,
        max_retries: int = 10,
        initial_backoff_s: float = 1.0,
        sleep=time.sleep,
    ) -> None:
        """The reference's slot-contention policy (server.ex:16-17,
        99-139): retry the exclusive claim up to ``max_retries`` times
        with exponential backoff (1s, 2s, 4s, ... doubling each
        attempt, server.ex:134-135), then give up with SlotInUseError —
        the caller's supervisor schedules the next check (the
        schedule_slot_check analog, server.ex:208-211).

        ``sleep`` is injectable for tests (and for async callers that
        want a cooperative wait).
        """
        if max_retries < 1:
            # range(0) would skip the loop and return WITHOUT the lock,
            # silently admitting a second writer to the slot
            raise ValueError(f"max_retries must be >= 1, got {max_retries}")
        backoff = initial_backoff_s
        for attempt in range(max_retries):
            try:
                return self.acquire_lock()
            except SlotInUseError:
                if attempt == max_retries - 1:
                    raise
                sleep(backoff)
                backoff *= 2

    def release_lock(self) -> None:
        fd = getattr(self, "_lock_fd", None)
        if fd is None:
            return
        self._lock_fd = None
        # truncate the metadata so a later reader sees "unowned", then
        # drop the kernel lock; the file itself stays (see acquire_lock)
        try:
            os.ftruncate(fd, 0)
        except OSError as e:
            # non-fatal: the flock below (or process death) still
            # releases ownership; stale metadata only misleads readers
            logging.getLogger(__name__).warning(
                "release_lock: could not truncate %s: %s", self._lock_path, e
            )
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)

    def __enter__(self) -> "JdbcPollingSource":
        self.acquire_lock()
        return self

    def __exit__(self, *exc) -> None:
        self.release_lock()

    def commit(self, new_cursor: int) -> None:
        """Advance + persist the cursor (the standby-status-update ack,
        server.ex:154-162). A non-integer cursor raises TypeError before
        any state changes."""
        self._cursor = _int_cursor(new_cursor)
        if self.checkpoint_path:
            tmp = f"{self.checkpoint_path}.tmp"
            with open(tmp, "w") as f:
                json.dump({"cursor": new_cursor}, f)
            os.replace(tmp, self.checkpoint_path)

    def advance_from(self, df: DataFrame) -> None:
        """Commit the max cursor value seen in a polled batch."""
        from pyspark.sql import functions as F

        row = df.agg(F.max(self.cursor_col).alias("m")).collect()[0]
        if row.m is not None:
            self.commit(row.m)
