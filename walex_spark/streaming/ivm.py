"""Streaming forms of the per-key history operators: one live-version
fold (``live_version_stream``) that group_delta_stream, scd2_stream
(streaming/scd.py) and postings_delta_stream (streaming/postings.py)
select from.

The fold is operators/scd.py's, with the previous version held in
state instead of reconstructed by a data-sized ``lag``: per row in WAL
order, every INSERT/UPDATE installs a live version (a +1 row with its
payload) and every change over a live version retracts it (a -1 row
with that version's payload, its from-LSN, the retracting LSN and
whether the retraction was a DELETE). Rows and their order are
``transforms.by_row_key``'s, the one row identity of the per-key
operators: the state key is ``(schema, table, primary key)``, a
key-changing UPDATE retracts the old key and installs the new one, and
a TRUNCATE fails the query.

Append-mode streaming cannot retract emitted rows, so the fold emits
exactly the rows that will never change (Structured Streaming, SIGMOD
2018): the signed deltas. Folding them downstream (``SUM(sign) GROUP
BY payload``) reproduces the batch operators' maintained aggregates;
that fold is associative, so it can run per sink partition, per
micro-batch, or over the whole delta log with the same result. The -1
rows are also the closed SCD2 intervals.

State per row is the live version ``(from_lsn, payload)``; a live
version may have a NULL payload, so liveness is ``from_lsn IS NOT
NULL``. It is dropped on DELETE, so it is bounded by live row count;
``transforms.dedup_replay`` first drops replays, which would reinstall
it, and keeps each (lsn, change_idx) for ``REPLAY_HORIZON``. Batches
cross to Python via Arrow, never row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from walex_spark.operators.transforms import ROW_KEY, by_row_key, dedup_replay

FOLD_SCHEMA = (
    "schema STRING, table STRING, pk STRING, sign INT, payload STRING, "
    "from_lsn BIGINT, lsn BIGINT, closed_by_delete BOOLEAN"
)


def live_version_stream(
    env: DataFrame,
    key_cols: list[str],
    payload: Column,
) -> DataFrame:
    """Envelope stream → the fold's signed version rows
    (``FOLD_SCHEMA``); ``payload`` is a STRING column of the change."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed, _ = by_row_key(dedup_replay(env), key_cols, applied=True)
    pre = keyed.select(
        *ROW_KEY,
        "op",
        F.col("__lsn").alias("lsn"),
        "change_idx",
        payload.alias("payload"),
    )

    def step(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["lsn", "change_idx"]
        )
        from_lsn, live = state.get if state.exists else (None, None)
        out = []
        for r in rows.itertuples():
            lsn, deleted = int(r.lsn), r.op == "DELETE"
            if from_lsn is not None:
                out.append((*key, -1, live, from_lsn, lsn, deleted))
            if deleted:
                from_lsn, live = None, None
            else:
                from_lsn, live = lsn, r.payload
                out.append((*key, 1, live, lsn, lsn, False))
        if from_lsn is not None:
            state.update((from_lsn, live))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "schema", "table", "pk", "sign", "payload", "from_lsn", "lsn",
                    "closed_by_delete",
                ],
            )

    return pre.groupBy(*ROW_KEY).applyInPandasWithState(
        step,
        outputStructType=FOLD_SCHEMA,
        stateStructType="from_lsn BIGINT, payload STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def group_delta_stream(
    env: DataFrame,
    key_cols: list[str],
    group_field: str,
) -> DataFrame:
    """Envelope stream → stream of (grp, w, lsn) retraction deltas, the
    streaming form of operators/scd.py::maintain_group_counts."""
    return live_version_stream(
        env, key_cols, F.col("record").getItem(group_field)
    ).select(F.col("payload").alias("grp"), F.col("sign").alias("w"), "lsn")
