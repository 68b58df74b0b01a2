"""Streaming search-index maintenance: the changelog → a stream of
(term, ±tf, ±df) posting deltas — the streaming twin of
operators/scd.py::maintain_term_postings — plus ewma_stream, the
stateful twin of operators/signal.py::ewma_last.

The postings deltas are the live-version fold's signed rows
(streaming/ivm.py, which states the fold and the key-change split)
with the version's text as payload, tokenized in the JVM by the batch
operator's tokenizer (``extensions.text._tokens``): +tf/+1 for every
term of a newly installed version, −tf/−1 for every term of a version
it retracts. Folding the delta stream (``SUM(dtf), SUM(ddf) GROUP BY
term``) reproduces the batch operator's (term, n_docs, tf_total)
exactly; the fold is associative, so it can run per sink partition,
per micro-batch, or over the whole delta log.

The fold's state per key is the live version's TEXT (the token source
for its future retraction), so the previous version comes from state
instead of a data-sized lag shuffle; it is bounded by live keys ×
document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def postings_delta_stream(
    env: DataFrame,
    key_cols: list[str],
    text_field: str,
) -> DataFrame:
    """Envelope stream → stream of (term, dtf, ddf, lsn) deltas, one
    row per signed version and distinct term.

    A term's count in a version is a scan of the version's token array
    per distinct term, in the JVM: no aggregate, which an append-mode
    stream could not run after the stateful fold."""
    from walex_spark.extensions.text import _tokens
    from walex_spark.streaming.ivm import live_version_stream

    versions = live_version_stream(
        env, key_cols, F.col("record").getItem(text_field)
    ).select("sign", "lsn", _tokens(F.col("payload")).alias("toks"))
    term_tf = F.transform(
        F.array_distinct(F.col("toks")),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(F.col("toks"), lambda x: x == t)).alias("tf"),
        ),
    )
    return versions.select("sign", "lsn", F.inline(term_tf)).select(
        "term",
        (F.col("sign") * F.col("tf")).alias("dtf"),
        F.col("sign").alias("ddf"),
        "lsn",
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
