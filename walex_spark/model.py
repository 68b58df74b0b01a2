"""Canonical schemas of the engine.

Mirrors the reference's data model (SURVEY.md §1.1):
  - change envelope  <- lib/walex/changes.ex:9-33 + decoder structs
    (lib/walex/decoder/decoder.ex:8-36)
  - Event            <- lib/walex/event/event.ex:5-17 (the rows
    transforms.event_projection emits)
  - Event.Source     <- lib/walex/event/source.ex:4-13

Design choice (SURVEY.md §7.4 "dynamic schema"): the envelope types
`record` / `old_record` as MapType(string,string) — text-encoded cells
exactly as pgoutput ships them — and casts LATE, per-table, with the
pg_cast expression library. A streaming DataFrame keeps one fixed
schema even when the upstream table's shape changes mid-stream.
"""

from __future__ import annotations

from pyspark.sql import types as T

SOURCE_NAME = "WalExSpark"
SOURCE_VERSION = "0.1.0"

# Sentinel for unchanged TOAST cells (reference keeps :unchanged_toast,
# decoder.ex:226-227). Text envelope can't carry atoms, so a sentinel
# string no real value can collide with (contains \x00).
UNCHANGED_TOAST = "\x00unchanged_toast\x00"

OPS = ("INSERT", "UPDATE", "DELETE", "TRUNCATE")

# One wire column descriptor (decoder.ex:241-263: flags, name, type, modifier)
COLUMN_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("is_key", T.BooleanType(), True),
        T.StructField("type_modifier", T.LongType(), True),
    ]
)

# Canonical CDC change envelope — one row per change (FIXTURES.md §3).
# Every CDC operator takes this shape; transforms.row_image picks a
# change's row image from it.
CHANGE_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("schema", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("columns", T.ArrayType(COLUMN_SCHEMA), True),
        T.StructField("record", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("old_record", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("key_record", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("commit_ts", T.TimestampType(), True),
        # LongType, not int32: a real WAL position's low word routinely
        # exceeds 2^31 (pg LSN is a 64-bit unsigned split as hi/lo u32)
        T.StructField("lsn_hi", T.LongType(), True),
        T.StructField("lsn_lo", T.LongType(), True),
        T.StructField("xid", T.LongType(), True),
        T.StructField("change_idx", T.IntegerType(), True),
    ]
)

# Event.Source provenance (source.ex:4-13; built at event.ex:113-122)
EVENT_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("version", T.StringType(), False),
        T.StructField("db", T.StringType(), True),
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("columns", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

