"""Streaming search-index maintenance: the changelog → a stream of
(term, ±tf, ±df) posting deltas — the streaming twin of
operators/scd.py::maintain_term_postings, built on the same
append-mode delta discipline as streaming/ivm.py.

Append mode cannot retract emitted rows, so the operator emits the
retraction DELTAS themselves: +tf/+1 for every term of a newly
installed live version, −tf/−1 for every term of the version it
displaces (UPDATE/re-INSERT) or removes (DELETE). Folding the delta
stream (``SUM(dtf), SUM(ddf) GROUP BY term``) reproduces the batch
operator's (term, n_docs, tf_total) exactly; the fold is associative,
so it can run per sink partition, per micro-batch, or over the whole
delta log.

State per key is the live version's TEXT (the token source for its
future retraction) — the streaming deployment the batch docstring
promises, where the previous version comes from state instead of a
data-sized lag shuffle. State is dropped on DELETE, so it is bounded
by live keys × document size. Batches cross to Python via Arrow
(applyInPandasWithState), never row-at-a-time.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_SCHEMA = "term STRING, dtf INT, ddf INT, lsn BIGINT"

# Java \s is ASCII-only; Python str.split() splits on Unicode
# whitespace (NBSP, U+2028, ...), which would silently diverge from
# the batch tokenizer on real-world text — the same hazard the
# heavy-hitters two-pass hit in round 5. re.ASCII pins the split to
# the JVM semantics; case-folding happens JVM-side (see pre below).
_ASCII_WS = re.compile(r"\s+", re.ASCII)


def _token_counts(lowered_text: str) -> dict:
    counts: dict = {}
    for tok in _ASCII_WS.split(lowered_text):
        if tok:
            counts[tok] = counts.get(tok, 0) + 1
    return counts


def postings_delta_stream(
    env: DataFrame,
    key_cols: list[str],
    text_field: str,
) -> DataFrame:
    """Envelope stream → stream of (term, dtf, ddf, lsn) deltas.

    Tokenization matches the batch operator's whitespace tokenizer
    (lower + split on whitespace, empty tokens dropped) — pinned by
    the fold-equals-batch test."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from walex_spark.streaming.ivm import prep_delta_input

    pre = prep_delta_input(
        env,
        key_cols,
        # case-fold in the JVM so stored state tokenizes exactly like
        # the batch operator's F.lower (Python str.lower differs on a
        # handful of Unicode mappings)
        F.lower(F.col("record").getItem(text_field)).alias("txt"),
    )

    def step(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["lsn", "change_idx"]
        )
        live_text = state.get[0] if state.exists else None
        out = []
        for r in rows.itertuples():
            lsn = int(r.lsn)
            if live_text is not None:
                for term, tf in _token_counts(live_text).items():
                    out.append((term, -tf, -1, lsn))
            if r.op == "DELETE":
                live_text = None
            else:
                live_text = r.txt if isinstance(r.txt, str) else None
                if live_text is not None:
                    for term, tf in _token_counts(live_text).items():
                        out.append((term, tf, 1, lsn))
        if live_text is not None:
            state.update((live_text,))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=["term", "dtf", "ddf", "lsn"])

    return pre.groupBy("__pk").applyInPandasWithState(
        step,
        outputStructType=OUT_SCHEMA,
        stateStructType="live_text STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUT_SCHEMA = "entity STRING, ewma DOUBLE, n_events BIGINT, last_us BIGINT"


def ewma_stream(
    env: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.25,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming EWMA per entity — the stateful twin of
    operators/signal.py::ewma_last. State is (acc, n, last_us); each
    micro-batch folds its rows in (event-time, value) order with the
    SAME alpha*v + beta*acc IEEE step, so the final emitted ewma for
    an entity equals the batch fold over the full history
    (fold-equals-batch, pinned like the postings stream).

    Emits one row per (entity, micro-batch) in update-to-append style:
    the entity's running ewma AFTER this batch. alpha must be
    binary-exact — validated identically to the batch operator.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from walex_spark.operators.signal import _is_binary_exact

    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if not _is_binary_exact(alpha):
        raise ValueError("alpha must be binary-exact (k/1024)")
    beta = 1.0 - alpha

    pre = env.select(
        F.col(entity_col).cast("string").alias("entity"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(tiebreak_col).cast("bigint").alias("tb"),
        F.col(value_col).cast("double").alias("v"),
    )

    def step(key, pdfs, state: GroupState):
        import pandas as pd

        # the batch fold sorts its series struct (us, tb, v)
        # lexicographically — mirror the exact tie order
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["us", "tb", "v"]
        )
        if state.exists:
            acc, n, _last = state.get
        else:
            acc, n = None, 0
        last_us = None
        for r in rows.itertuples():
            v = float(r.v)
            acc = v if acc is None else alpha * v + beta * acc
            n += 1
            last_us = int(r.us)
        state.update((acc, n, last_us))
        yield pd.DataFrame(
            [(key[0], acc, n, last_us)],
            columns=["entity", "ewma", "n_events", "last_us"],
        )

    return pre.groupBy("entity").applyInPandasWithState(
        step,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType="acc DOUBLE, n BIGINT, last_us BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
