"""Streaming SCD Type-2: append-only closed validity intervals over
the envelope stream (the streaming form of operators/scd.py::
scd2_history).

Semantics: per key, each INSERT/UPDATE opens a version; the NEXT
change for that key (any op, incl. DELETE) closes it and the closed
interval row is emitted. The currently-open version lives in the
operator state, not the output — append-mode streaming cannot retract,
so the stream carries exactly the rows that will never change again
(the batch operator additionally lists open versions with
valid_to_lsn NULL; union this stream's sink with "state rows" at read
time to reproduce that view).

Scale posture: state per key is ONE open version (from-LSN + record
JSON) — bounded by live key count, not stream length; keys whose last
change was a DELETE drop their state entirely. The only shuffle is the
groupBy(key) feeding applyInPandasWithState, and the kernel crosses to
Python via Arrow batches, never row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from walex_spark.streaming.ivm import prep_delta_input

OUT_SCHEMA = (
    "pk STRING, record_json STRING, valid_from_lsn BIGINT, "
    "valid_to_lsn BIGINT, closed_by_delete BOOLEAN"
)


def scd2_stream(env: DataFrame, key_cols: list[str]) -> DataFrame:
    """Envelope stream → stream of CLOSED SCD2 interval rows."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pre = prep_delta_input(env, key_cols, F.to_json(F.col("record")).alias("rec_json"))

    def step(key, pdfs, state: GroupState):
        import pandas as pd

        (pk,) = key
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["lsn", "change_idx"]
        )
        open_from, open_rec = state.get if state.exists else (None, None)
        out = []
        for r in rows.itertuples():
            if open_from is not None:
                out.append(
                    (pk, open_rec, int(open_from), int(r.lsn), r.op == "DELETE")
                )
            if r.op == "DELETE":
                open_from, open_rec = None, None
            else:
                open_from, open_rec = int(r.lsn), r.rec_json
        if open_from is None:
            if state.exists:
                state.remove()  # deleted key: no state to carry
        else:
            state.update((open_from, open_rec))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "pk", "record_json", "valid_from_lsn",
                    "valid_to_lsn", "closed_by_delete",
                ],
            )

    return pre.groupBy("__pk").applyInPandasWithState(
        step,
        outputStructType=OUT_SCHEMA,
        stateStructType="open_from BIGINT, open_rec STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
