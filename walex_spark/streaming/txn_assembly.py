"""Stateful transaction assembly (SURVEY.md §2.4).

The reference assembles changes between Begin and the matching Commit
into a %Transaction{} inside a single GenServer
(lib/walex/replication/publisher.ex:57-77) — inherently serial, keyed
by nothing (one WAL stream). The Spark form keys state by ``xid``:

  - batch form: groupBy(xid) + sorted collect_list — one shuffle on
    xid; WAL order within the txn restored by (lsn, change_idx).
  - streaming form: applyInPandasWithState keyed by xid; a txn emits
    when its COMMIT row arrives (commit_lsn == txn lsn,
    publisher.ex:70-77), state times out (lost-commit guard) instead
    of growing forever.

The reference prepends changes (LIFO, publisher.ex:121) and consumers
see reversed order; we keep explicit arrival order (change_idx) —
deviation documented in SURVEY.md §2.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from walex_spark.operators.transforms import lsn_column

TXN_SCHEMA = T.StructType(
    [
        T.StructField("xid", T.LongType(), False),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("n_changes", T.IntegerType(), False),
        T.StructField("first_lsn", T.LongType(), True),
        T.StructField("last_lsn", T.LongType(), True),
        T.StructField("tables", T.ArrayType(T.StringType()), True),
    ]
)


def assemble_transactions(env: DataFrame) -> DataFrame:
    """Batch form: changes grouped to transactions, WAL-ordered within.

    Returns one row per txn with the ordered change list. The xid
    shuffle is the only exchange; ordering inside a group is a local
    sort (sort_array on the collected structs, keyed by (lsn, idx)).
    """
    keyed = env.withColumn("__lsn", lsn_column())
    def _by_wal_order(a, b):
        # struct contains maps → default struct ordering unavailable;
        # compare explicitly on (lsn, change_idx)
        return (
            F.when(a.getField("lsn") < b.getField("lsn"), -1)
            .when(a.getField("lsn") > b.getField("lsn"), 1)
            .when(a.getField("idx") < b.getField("idx"), -1)
            .when(a.getField("idx") > b.getField("idx"), 1)
            .otherwise(0)
        )

    ordered_changes = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__lsn").alias("lsn"),
                    F.col("change_idx").alias("idx"),
                    F.col("op").alias("op"),
                    F.col("table").alias("table"),
                    F.col("record").alias("record"),
                    F.col("old_record").alias("old_record"),
                )
            ),
            _by_wal_order,
        ),
        lambda c: c.dropFields("lsn", "idx"),
    )
    return keyed.groupBy("xid").agg(
        F.max("commit_ts").alias("commit_ts"),
        F.count(F.lit(1)).cast("int").alias("n_changes"),
        F.min("__lsn").alias("first_lsn"),
        F.max("__lsn").alias("last_lsn"),
        F.array_distinct(F.collect_list("table")).alias("tables"),
        ordered_changes.alias("changes"),
    )


def assemble_transactions_stateful(env: DataFrame, timeout_ms: int | None = None):
    """Streaming form: applyInPandasWithState keyed by xid.

    A transaction accumulates rows across microbatches and emits a
    summary row when its COMMIT marker arrives (op == 'COMMIT', the
    Begin/Commit frames of decoder.ex:72-89 represented as envelope
    rows). Unterminated transactions are never emitted, matching the
    reference (replication/supervisor.ex:26-41).

    ``timeout_ms``: optional lost-commit guard — state for a txn whose
    COMMIT never arrives is dropped after this long, bounding state
    growth on a 100 TB stream. None (default) keeps state until commit
    (NoTimeout); note ProcessingTimeTimeout makes the microbatch loop
    run continuously even when the source is idle, so leave it off for
    drain-to-completion batch-style tests.

    Returns a streaming DataFrame of TXN_SCHEMA rows.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def assemble(key, pdfs, state: GroupState):
        import pandas as pd

        (xid,) = key
        if timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            n, first_lsn, last_lsn, tables, committed = state.get
        else:
            n, first_lsn, last_lsn, tables, committed = 0, None, None, [], False
        lsns = rows["lsn_hi"].astype("int64") * 4294967296 + rows["lsn_lo"].astype("int64")
        data = rows[rows["op"] != "COMMIT"]
        n += len(data)
        if len(lsns):
            lo, hi = int(lsns.min()), int(lsns.max())
            first_lsn = lo if first_lsn is None else min(first_lsn, lo)
            last_lsn = hi if last_lsn is None else max(last_lsn, hi)
        tables = sorted(set(tables) | set(data["table"].dropna()))
        committed = committed or bool((rows["op"] == "COMMIT").any())
        if committed:
            commit_ts = rows["commit_ts"].max()
            state.remove()
            yield pd.DataFrame(
                {
                    "xid": [xid],
                    "commit_ts": [commit_ts],
                    "n_changes": [n],
                    "first_lsn": [first_lsn],
                    "last_lsn": [last_lsn],
                    "tables": [tables],
                }
            )
        else:
            state.update((n, first_lsn, last_lsn, tables, committed))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    state_schema = (
        "n INT, first_lsn BIGINT, last_lsn BIGINT, tables ARRAY<STRING>, committed BOOLEAN"
    )
    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return env.groupBy("xid").applyInPandasWithState(
        assemble,
        outputStructType=TXN_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
