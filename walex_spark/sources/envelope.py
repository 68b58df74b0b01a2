"""Change-envelope sources.

The reference's source is a Postgres logical-replication socket
(lib/walex/replication/server.ex:19-151). Per BASELINE.json the raw
capture mechanism doesn't fit Spark; the engine ingests the already-
captured CDC envelope (Kafka topic / file drop / Debezium-style JSON)
through Structured Streaming, or polls via JDBC (sources/jdbc.py).

Offset commit / keepalive-ack (server.ex:154-162) maps to checkpoint
offsets; durable-vs-temporary slot (query_builder.ex:10-16) maps to
presence/absence of a checkpointLocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from walex_spark.model import CHANGE_ENVELOPE_SCHEMA


def read_envelope(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Batch read of envelope rows (parquet or JSON lines)."""
    reader = spark.read.schema(CHANGE_ENVELOPE_SCHEMA)
    return reader.parquet(path) if fmt == "parquet" else reader.json(path)


def read_envelope_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of envelope rows from a file drop.

    ``max_files_per_trigger`` is the back-pressure knob — the analog of
    the reference's sync-middleware advice (README.md:348-381): bound
    work per microbatch instead of buying RAM.
    """
    reader = spark.readStream.schema(CHANGE_ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path) if fmt == "parquet" else reader.json(path)


def parse_json_envelope_with_rejects(
    df: DataFrame, json_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """Parse + quarantine: returns (valid envelope rows, reject rows).

    A row is a reject when from_json cannot produce an `op` (corrupt
    JSON, wrong shape, empty payload). Rejects keep the ORIGINAL raw
    string (plus nothing else) so a dead-letter sink can persist them
    for replay after a fix — the poison-pill pattern; the valid side
    is the typed envelope columns. One pass each side, no
    shuffle; Catalyst shares the from_json subtree across the two
    filters."""
    raw = F.col(json_col).cast("string")
    parsed = df.select(
        raw.alias("__raw"),
        F.from_json(raw, CHANGE_ENVELOPE_SCHEMA).alias("e"),
    )
    valid = parsed.filter(F.col("e.op").isNotNull()).select("e.*")
    rejects = parsed.filter(F.col("e.op").isNull()).select(
        F.col("__raw").alias("raw")
    )
    return valid, rejects
