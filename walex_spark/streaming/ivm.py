"""Streaming forms of the per-key history operators: one live-version
fold (``live_version_stream``) that group_delta_stream, scd2_stream
(streaming/scd.py) and postings_delta_stream (streaming/postings.py)
select from.

The fold is operators/scd.py's, with the previous version held in
state instead of reconstructed by a data-sized ``lag``: per key in WAL
order, every INSERT/UPDATE installs a live version (a +1 row with its
payload) and every change over a live version retracts it (a -1 row
with that version's payload, its from-LSN, the retracting LSN and
whether the retraction was a DELETE). A key-changing UPDATE is split
first (``transforms.split_key_changes``), so it retracts the old key
and installs the new one.

Append-mode streaming cannot retract emitted rows, so the fold emits
exactly the rows that will never change (Structured Streaming, SIGMOD
2018): the signed deltas. Folding them downstream (``SUM(sign) GROUP
BY payload``) reproduces the batch operators' maintained aggregates;
that fold is associative, so it can run per sink partition, per
micro-batch, or over the whole delta log with the same result. The -1
rows are also the closed SCD2 intervals.

State per key is the live version ``(from_lsn, payload)``; a live
version may have a NULL payload, so liveness is ``from_lsn IS NOT
NULL``. It is dropped on DELETE, so it is bounded by live key count.
The only shuffle is the groupBy(key) feeding applyInPandasWithState;
batches cross to Python via Arrow, never row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FOLD_SCHEMA = (
    "pk STRING, sign INT, payload STRING, from_lsn BIGINT, lsn BIGINT, "
    "closed_by_delete BOOLEAN"
)


def prep_delta_input(
    env: DataFrame,
    key_cols: list[str],
    payload,
) -> DataFrame:
    """Envelope → (__pk, op, lsn, change_idx, payload), key-changing
    UPDATEs split: the null-safe key (transforms.pk_column) and the
    canonical 64-bit lsn (transforms.lsn_column). A TRUNCATE fails the
    query, as in the batch operators (operators/scd.py). ``payload``
    is the one operator-specific column (already aliased)."""
    from walex_spark.operators.scd import lsn_raising_on_truncate
    from walex_spark.operators.transforms import pk_column, split_key_changes

    return split_key_changes(env, key_cols).select(
        pk_column(key_cols).alias("__pk"),
        F.col("op"),
        lsn_raising_on_truncate().alias("lsn"),
        F.col("change_idx"),
        payload,
    )


def live_version_stream(
    env: DataFrame,
    key_cols: list[str],
    payload: Column,
) -> DataFrame:
    """Envelope stream → the fold's signed version rows
    (``FOLD_SCHEMA``); ``payload`` is a STRING column of the change."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pre = prep_delta_input(env, key_cols, payload.alias("payload"))

    def step(key, pdfs, state: GroupState):
        import pandas as pd

        (pk,) = key
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["lsn", "change_idx"]
        )
        from_lsn, live = state.get if state.exists else (None, None)
        out = []
        for r in rows.itertuples():
            lsn, deleted = int(r.lsn), r.op == "DELETE"
            if from_lsn is not None:
                out.append((pk, -1, live, from_lsn, lsn, deleted))
            if deleted:
                from_lsn, live = None, None
            else:
                from_lsn, live = lsn, r.payload
                out.append((pk, 1, live, lsn, lsn, False))
        if from_lsn is not None:
            state.update((from_lsn, live))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=["pk", "sign", "payload", "from_lsn", "lsn", "closed_by_delete"],
            )

    return pre.groupBy("__pk").applyInPandasWithState(
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
