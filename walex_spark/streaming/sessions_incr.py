"""Incremental (streaming) twin of the batch gap sessionization
(queries.q_cdc_sessionize / windows.sessionized_activity's semantics):
events arrive in time-ordered micro-batches, per-user OPEN sessions
persist as keyed parquet state, and each epoch emits exactly the
sessions it CLOSED — the union of emissions plus a final flush equals
the batch operator over the full stream.

This is the manual-state analogue of Spark's native
``session_window``/``applyInPandasWithState`` sessionization (which
windows.py::sessionized_activity already provides for true readStream
deployments); the foreachBatch index form exists for the same reason
the dedup twins do (dedup_incr.py module docstring): exactly-once
replay via overwrite-by-epoch, an inspectable/compactable state dir,
and a fold the DuckDB batch oracle can check value-for-value.

PRECONDITION (the contract a time-ordered source satisfies by
construction): for every user, all events in epoch e have event time
>= every event in epochs < e, and equal-timestamp events never
straddle an epoch boundary. Under that ordering a session's
membership is FINAL the moment a later-epoch event (or the flush)
observes a > gap silence — append-only emissions, no retractions
(winnow's design point, not despan's).

FOLD-EQUALS-BATCH (pinned by tests/test_sessions_incr.py): union of
``process_batch`` outputs over all epochs + ``flush()`` equals the
batch lag/running-sum sessionization (same strict-> gap comparison,
same (ts, order_col) tie order, same 1-based per-user numbering).

PER-EPOCH COST CONTRACT: the only aggregations are over the epoch's
own rows (local sessionize = one epoch-sized per-user window); state
participates solely via one keyed left join of the epoch's users
against the latest-per-user state read (filters pushed to the parquet
scan) — never an index-wide recompute. State is one row per user
(the open session), written as per-epoch deltas with latest-epoch-
wins reads; ``compact_every=K`` folds delta dirs through the shared
manifest-flip protocol, pre-reducing to latest-per-user so the
compacted dir is exactly |users| rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from walex_spark.session import empty_frame
from walex_spark.streaming.dedup_incr import (
    _compact_root,
    _epoch_dirs,
    _read_union,
    _write_epoch,
)


class IncrementalSessionIndex:
    """Per-user open-session state + per-epoch closed-session emission.

    Each epoch: sessionize the epoch's events locally (lag + running
    sum over the epoch only), stitch the first local session onto the
    user's persisted open session when the arrival gap is within
    ``gap`` (the strict-> rule of the batch operator, mirrored), close
    everything except each user's last session, and persist that last
    session as the new open state. Users absent from the epoch are
    untouched — their state row simply remains the latest.

    Replay: the state read for epoch e filters ``epoch < e`` (a
    crashed-and-replayed epoch must not see its own half-written
    delta), and both the delta and the emissions are rewritten
    idempotently — the at-least-once foreachBatch contract yields
    exactly-once state, same as the dedup twins.
    """

    STATE_SCHEMA = (
        "user_id BIGINT, session_no BIGINT, first_ts TIMESTAMP, "
        "last_ts TIMESTAMP, n_events BIGINT, epoch BIGINT"
    )

    def __init__(
        self,
        index_dir: str,
        gap: str = "30 minutes",
        id_col: str = "user_id",
        ts_col: str = "ts",
        order_col: str = "event_id",
        compact_every: int = 0,
    ):
        self.index_dir = index_dir
        self.gap = gap
        self.id_col, self.ts_col, self.order_col = id_col, ts_col, order_col
        self.compact_every = compact_every

    def _state_root(self) -> str:
        return os.path.join(self.index_dir, "state")

    def open_sessions(
        self, spark: SparkSession, before_epoch: int | None = None
    ) -> DataFrame:
        """Latest-per-user state rows — each user's open session.

        ``before_epoch`` (the replay path) excludes the epoch's OWN
        delta dir at the PATH level, not just by row filter: a
        replayed epoch overwrites ``e-<epoch>`` while this read is
        still lazy, and a plan listing that dir would race the
        overwrite. Rows that reached a compacted dir before the crash
        are still removed by the row filter (dir exclusion cannot
        reach inside ``c-*``)."""
        if before_epoch is not None:
            dirs = [
                d
                for d in _epoch_dirs(self._state_root())
                if os.path.basename(d) != f"e-{before_epoch}"
            ]
            df = (
                spark.read.schema(self.STATE_SCHEMA).parquet(*dirs)
                if dirs
                else empty_frame(spark, self.STATE_SCHEMA)
            )
        else:
            df = _read_union(spark, self._state_root(), self.STATE_SCHEMA)
        if before_epoch is not None:
            df = df.filter(F.col("epoch") < before_epoch)
        w = Window.partitionBy("user_id").orderBy(F.col("epoch").desc())
        return (
            df.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .drop("__r", "epoch")
        )

    def compact(self, spark: SparkSession) -> bool:
        return _compact_root(
            spark,
            self._state_root(),
            self.STATE_SCHEMA,
            agg=lambda df: (
                df.withColumn(
                    "__r",
                    F.row_number().over(
                        Window.partitionBy("user_id").orderBy(F.col("epoch").desc())
                    ),
                )
                .filter(F.col("__r") == 1)
                .drop("__r")
            ),
        )

    def _gap_expr(self):
        return F.expr(f"INTERVAL {self.gap}")

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Persist the epoch; return the sessions it CLOSED as
        (user_id, session_no, n_events) — the batch operator's row
        shape, append-only."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._state_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        ev = batch_df.select(
            F.col(self.id_col).cast(T.LongType()).alias("user_id"),
            F.col(self.ts_col).alias("ts"),
            F.col(self.order_col).alias("__ord"),
        )
        w = Window.partitionBy("user_id").orderBy("ts", "__ord")
        flag = F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts") - F.lag("ts").over(w)) > self._gap_expr()),
            1,
        ).otherwise(0)
        run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        loc = (
            ev.withColumn("__new", flag)
            .withColumn("ls", F.sum("__new").over(run))
            .groupBy("user_id", "ls")
            .agg(
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
                F.count(F.lit(1)).alias("n_events"),
            )
        )
        st = self.open_sessions(spark, before_epoch=epoch_id).select(
            "user_id",
            F.col("session_no").alias("o_no"),
            F.col("first_ts").alias("o_first"),
            F.col("last_ts").alias("o_last"),
            F.col("n_events").alias("o_n"),
        )
        uw = Window.partitionBy("user_id")
        j = (
            loc.join(st, "user_id", "left")
            # the user's FIRST epoch session decides the stitch; its
            # first_ts is the per-user min (epoch-sized window)
            .withColumn("__first1", F.min("first_ts").over(uw))
            .withColumn(
                "__merged",
                F.col("o_last").isNotNull()
                & ~((F.col("__first1") - F.col("o_last")) > self._gap_expr()),
            )
            .withColumn(
                "final_no",
                F.coalesce(F.col("o_no"), F.lit(0).cast(T.LongType()))
                + F.col("ls")
                - F.when(F.col("__merged"), 1).otherwise(0),
            )
            .withColumn(
                "n_total",
                F.col("n_events")
                + F.when(
                    F.col("__merged") & (F.col("ls") == 1), F.col("o_n")
                ).otherwise(F.lit(0)),
            )
            .withColumn(
                "first_all",
                F.when(
                    F.col("__merged") & (F.col("ls") == 1), F.col("o_first")
                ).otherwise(F.col("first_ts")),
            )
            .withColumn("__max_no", F.max("final_no").over(uw))
            # three consumers (state write + both closed emissions) —
            # materialize the stitched frame once instead of re-running
            # the epoch window + state fold + join per consumer
            .localCheckpoint(eager=False)
        )
        new_state = j.filter(F.col("final_no") == F.col("__max_no")).select(
            "user_id",
            F.col("final_no").alias("session_no"),
            F.col("first_all").alias("first_ts"),
            "last_ts",
            F.col("n_total").alias("n_events"),
            F.lit(epoch_id).cast(T.LongType()).alias("epoch"),
        )
        _write_epoch(new_state, self._state_root(), epoch_id)
        closed_local = j.filter(F.col("final_no") < F.col("__max_no")).select(
            "user_id",
            F.col("final_no").alias("session_no"),
            F.col("n_total").alias("n_events"),
        )
        # an unmerged open session closes NOW (> gap silence observed)
        closed_old = (
            j.filter(
                (F.col("ls") == 1)
                & F.col("o_no").isNotNull()
                & ~F.col("__merged")
            )
            .select(
                "user_id",
                F.col("o_no").alias("session_no"),
                F.col("o_n").alias("n_events"),
            )
        )
        return closed_local.unionByName(closed_old)

    def flush(self, spark: SparkSession) -> DataFrame:
        """End-of-stream: emit every still-open session (the batch
        operator's final sessions)."""
        return self.open_sessions(spark).select(
            "user_id", "session_no", "n_events"
        )
