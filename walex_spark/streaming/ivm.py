"""Streaming incremental view maintenance: the changelog → a stream of
+1/-1 group deltas (the streaming form of operators/scd.py::
maintain_group_counts).

Append-mode streaming cannot retract emitted rows, so the operator
does NOT emit maintained counts — it emits the retraction DELTAS
themselves: +1 when a change installs a live version in a group, -1
when it displaces or deletes a live previous version. Any downstream
consumer folds them (``SUM(w) GROUP BY grp``) to reproduce the batch
operator's maintained counts exactly; that fold is associative, so it
can run per sink partition, per micro-batch, or over the whole delta
log with the same result.

State per key is the live version's group value — bounded by live key
count, dropped on DELETE (same bound as scd2_stream). The only
shuffle is the groupBy(key) feeding applyInPandasWithState; batches
cross to Python via Arrow, never row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_SCHEMA = "grp STRING, w INT, lsn BIGINT"


def prep_delta_input(
    env: DataFrame,
    key_cols: list[str],
    payload,
) -> DataFrame:
    """Shared envelope → (__pk, op, lsn, change_idx, payload) prep for
    the streaming history operators (this module, streaming/postings
    and streaming/scd): the null-safe key (transforms.pk_column) and
    the canonical 64-bit lsn (transforms.lsn_column). A TRUNCATE fails
    the query, as in the batch operators (operators/scd.py).
    ``payload`` is the one operator-specific column (already aliased)."""
    from walex_spark.operators.scd import lsn_raising_on_truncate
    from walex_spark.operators.transforms import pk_column

    return env.select(
        pk_column(key_cols).alias("__pk"),
        F.col("op"),
        lsn_raising_on_truncate().alias("lsn"),
        F.col("change_idx"),
        payload,
    )


def group_delta_stream(
    env: DataFrame,
    key_cols: list[str],
    group_field: str,
) -> DataFrame:
    """Envelope stream → stream of (grp, w, lsn) retraction deltas."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pre = prep_delta_input(env, key_cols, F.col("record").getItem(group_field).alias("grp"))

    def step(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["lsn", "change_idx"]
        )
        live_grp, has_live = (state.get[0], True) if state.exists else (None, False)
        out = []
        for r in rows.itertuples():
            lsn = int(r.lsn)
            if has_live:
                out.append((live_grp, -1, lsn))
            if r.op == "DELETE":
                live_grp, has_live = None, False
            else:
                live_grp, has_live = r.grp, True
                out.append((r.grp, 1, lsn))
        if has_live:
            state.update((live_grp,))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=["grp", "w", "lsn"])

    return pre.groupBy("__pk").applyInPandasWithState(
        step,
        outputStructType=OUT_SCHEMA,
        stateStructType="live_grp STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
