"""Event-time windowing over the change stream (SURVEY.md §2.9
"streaming layer").

The reference has no event-time notion beyond passing commit_timestamp
through (§2.8) — ordering is assumed from the replication socket. At
engine scale the stream is partitioned and late data is real, so the
windowing layer is native Structured Streaming: watermarks bound state,
tumbling/sliding windows aggregate per table/op and session windows
group bursts. Replay dedup (R12) is not here: its one operator,
`operators.transforms.dedup_replay`, serves batch and stream.

All functions accept either a batch or a streaming envelope DataFrame;
watermarks are applied only when streaming (no-op semantics in batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from walex_spark.operators.transforms import ROW_KEY, by_row_key


def _maybe_watermark(env: DataFrame, watermark: str | None) -> DataFrame:
    if watermark and env.isStreaming:
        return env.withWatermark("commit_ts", watermark)
    return env


def windowed_change_counts(
    env: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) change counts per
    (window, table, op). Watermark bounds the state store: a window
    finalizes once event time passes its end + watermark, so state is
    O(active windows), not O(stream)."""
    w = (
        F.window("commit_ts", window, slide)
        if slide
        else F.window("commit_ts", window)
    )
    return (
        _maybe_watermark(env, watermark)
        .groupBy(w.alias("win"), "table", "op")
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "table",
            "op",
            "n_changes",
        )
    )


def sessionized_activity(
    env: DataFrame,
    gap: str = "30 minutes",
    key: str = "table",
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Session windows (gap-based) per key: bursts of changes separated
    by ≥ gap become separate sessions. Native `session_window` — the
    state store merges adjacent sessions and the watermark closes them."""
    return (
        _maybe_watermark(env, watermark)
        .groupBy(F.session_window("commit_ts", gap).alias("sess"), key)
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.min("commit_ts").alias("first_change"),
            F.max("commit_ts").alias("last_change"),
        )
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            key,
            "n_changes",
            "first_change",
            "last_change",
        )
    )


def correlate_changes(
    env: DataFrame,
    key_cols: list[str],
    within: str = "1 hour",
) -> DataFrame:
    """Pair each UPDATE/DELETE with the INSERT that created its key —
    CDC lineage enrichment as a STREAM-STREAM join.

    Both sides are the same envelope stream split by op; they join on
    the row key (``transforms.by_row_key``: schema, table, pk) with an
    event-time range (change within ``within`` of the insert). In streaming, the watermarks plus the range constraint
    bound BOTH join state stores (an insert can be dropped from state
    once event time passes insert_ts + within) — without the range
    condition the insert side would accumulate forever. In batch the
    exact same plan runs as a plain range join, which is what the
    DuckDB oracle replays.

    Returns one row per (change, matching insert): op, table, pk,
    change_ts, insert_ts, lag_seconds, change lsn ordering columns.
    """
    # time-bucket the join key: a ``within``-sized window spans at most
    # 2 buckets of that size, so the change side probes exactly its own
    # bucket and the previous one. This bounds join fan-out to
    # per-(pk, bucket) groups — without it a hot key (one pk with many
    # inserts AND many changes) degrades quadratically, and the
    # streaming state store for a key never shards.
    base, _ = by_row_key(env, key_cols, applied=False)
    ins = base.filter(F.col("op") == "INSERT").select(
        *[F.col(c).alias(f"i_{c}") for c in ROW_KEY],
        F.col("commit_ts").alias("insert_ts"),
        F.window("commit_ts", within).start.alias("i_bucket"),
    )
    chg = (
        base.filter(F.col("op").isin("UPDATE", "DELETE"))
        .select(
            *ROW_KEY,
            "op",
            F.col("commit_ts").alias("change_ts"),
            "lsn_hi",
            "lsn_lo",
            "change_idx",
            F.window("commit_ts", within).start.alias("__b0"),
        )
        .withColumn(
            "i_bucket",
            F.explode(
                F.array(F.col("__b0"), F.col("__b0") - F.expr(f"INTERVAL {within}"))
            ),
        )
        .drop("__b0")
    )
    if env.isStreaming:
        ins = ins.withWatermark("insert_ts", within)
        chg = chg.withWatermark("change_ts", within)
    cond = [F.col(c) == F.col(f"i_{c}") for c in ROW_KEY] + [
        chg["i_bucket"] == ins["i_bucket"],
        F.col("change_ts") >= F.col("insert_ts"),
        F.col("change_ts") <= F.col("insert_ts") + F.expr(f"INTERVAL {within}"),
    ]
    return chg.join(ins, cond).select(
        "op",
        "table",
        F.col("__pk").alias("pk"),
        "change_ts",
        "insert_ts",
        (
            F.unix_timestamp("change_ts") - F.unix_timestamp("insert_ts")
        ).alias("lag_seconds"),
        "lsn_hi",
        "lsn_lo",
        "change_idx",
    )
