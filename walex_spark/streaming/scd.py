"""Streaming SCD Type-2: append-only closed validity intervals over
the envelope stream (the streaming form of operators/scd.py::
scd2_history).

A closed interval is a -1 row of the live-version fold
(streaming/ivm.py, which states the fold and the key-change split):
the version it retracts opened at ``from_lsn`` and closes at the
retracting change's ``lsn``, by a DELETE or not. The currently-open
version lives in the fold's state, not the output — append-mode
streaming cannot retract, so the stream carries exactly the rows that
will never change again (the batch operator additionally lists open
versions with valid_to_lsn NULL; union this stream's sink with "state
rows" at read time to reproduce that view).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from walex_spark.streaming.ivm import live_version_stream


def scd2_stream(env: DataFrame, key_cols: list[str]) -> DataFrame:
    """Envelope stream → stream of CLOSED SCD2 interval rows (schema,
    table, pk, record_json, valid_from_lsn, valid_to_lsn,
    closed_by_delete)."""
    return (
        live_version_stream(env, key_cols, F.to_json(F.col("record")))
        .filter(F.col("sign") == -1)
        .select(
            "schema",
            "table",
            "pk",
            F.col("payload").alias("record_json"),
            F.col("from_lsn").alias("valid_from_lsn"),
            F.col("lsn").alias("valid_to_lsn"),
            "closed_by_delete",
        )
    )
