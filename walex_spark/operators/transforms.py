"""Batch CDC transforms — the reference's filter/diff/project layer.

Every operator here is a pure DataFrame→DataFrame (or Column) builder:
Catalyst sees the whole plan, so filter pushdown / column pruning /
predicate ordering are automatic (the reference hand-ordered its
filters and even carried a TODO about it — event.ex:138-148; SURVEY.md
§4.1).

Parity map:
  parse_relation_filter / matches   <- lib/walex/transaction_filter.ex:57-127
  filter_subscribed / filter_changes<- transaction_filter.ex:132-173
  filter_unwatched_fields           <- transaction_filter.ex:175-187
  filter_unwatched_records          <- transaction_filter.ex:189-207
  map_changes (field diff)          <- transaction_filter.ex:209-222
  event projection / source         <- lib/walex/event/event.ex:43-122
  set_type                          <- lib/walex/helpers.ex:5-7
  lsn_to_string                     <- event.ex:170-175
  table-state materialization       <- SURVEY.md §2.9 R10 (no reference
                                       counterpart; walex only routes)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from walex_spark.model import EVENT_SOURCE_SCHEMA, SOURCE_NAME, SOURCE_VERSION

# ---------------------------------------------------------------------------
# Relation filters (WHERE clauses of the reference)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RelationFilter:
    """Parsed "schema:table" | "schema" | "*" filter
    (transaction_filter.ex:97-108)."""

    schema: str | None  # None = wildcard
    table: str | None


def parse_relation_filter(relation: str) -> RelationFilter:
    if relation in ("*", ""):
        return RelationFilter(schema=None, table=None)
    parts = relation.split(":")
    if len(parts) == 1:
        return RelationFilter(schema=parts[0], table=None)
    if len(parts) == 2:
        schema, table = parts
        return RelationFilter(
            schema=None if schema == "*" else schema,
            table=None if table == "*" else table,
        )
    raise ValueError(f"invalid relation filter (max schema:table): {relation!r}")


def filter_event_type(df: DataFrame, event: str) -> DataFrame:
    """op ∈ {INSERT,UPDATE,DELETE,TRUNCATE} or '*' (transaction_filter.ex:57-76)."""
    if event == "*":
        return df
    return df.filter(F.col("op") == event.upper())


def relation_predicate(flt: RelationFilter) -> Column:
    pred = F.lit(True)
    if flt.schema is not None:
        pred = pred & (F.col("schema") == flt.schema)
    if flt.table is not None:
        pred = pred & (F.col("table") == flt.table)
    return pred


def matches(df: DataFrame, event: str, relation: str) -> DataFrame:
    """Combined event-type + relation filter (matches?/2,
    transaction_filter.ex:57-76). Bare table names default to schema
    'public' in the sugar helpers (transaction_filter.ex:113-127)."""
    return filter_event_type(df, event).filter(
        relation_predicate(parse_relation_filter(relation))
    )


def filter_subscribed(df: DataFrame, subscriptions: list[str] | None) -> DataFrame:
    """Keep changes whose table is subscribed; None = :all_tables
    wildcard (transaction_filter.ex:132-134, 157-161)."""
    if subscriptions is None:
        return df
    return df.filter(F.col("table").isin(subscriptions))


def filter_changes(
    df: DataFrame,
    table: str,
    record_types: list[str] | None = None,
    schema: str = "public",
) -> DataFrame:
    """subscribed ∧ table == name ∧ op ∈ record_types
    (transaction_filter.ex:139-155, 170-173)."""
    out = df.filter((F.col("table") == table) & (F.col("schema") == schema))
    if record_types:
        out = out.filter(F.col("op").isin([r.upper() for r in record_types]))
    return out


def filter_unwatched_fields(df: DataFrame, unwatched: list[str]) -> DataFrame:
    """Drop UPDATE events whose changed fields ⊆ unwatched (i.e. keep iff
    some changed field is watched). Events without a diff (inserts /
    deletes, changes NULL) are always kept
    (transaction_filter.ex:175-187)."""
    unwatched_arr = F.array(*[F.lit(u) for u in unwatched])
    watched_changes = F.map_filter(
        F.col("changes"), lambda k, _v: ~F.array_contains(unwatched_arr, k)
    )
    return df.filter(
        F.col("changes").isNull() | (F.size(F.map_keys(watched_changes)) > 0)
    )


def filter_unwatched_records(
    df: DataFrame,
    unwatched_records: dict[str, str],
    record_col: str = "new_record",
    old_record_col: str = "old_record",
) -> DataFrame:
    """Drop Events whose record matches ALL {key: value} pairs
    (conjunctive exclusion). The record examined is new_record, else
    old_record for deletes (the change's ``row_image``); events with
    neither are dropped (transaction_filter.ex:189-207).

    Reference semantics on a missing or NULL-valued key: the reference's
    `contains_unwatched_records?` requires `Map.has_key?(record, key)
    and Map.get(record, key) == value` (transaction_filter.ex:203-207),
    so a record that lacks the key — e.g. a key-only DELETE old_record
    under REPLICA IDENTITY DEFAULT — makes the conjunct FALSE and the
    event stays watched. A bare `getItem(k) == lit(v)` would instead be
    NULL, propagate through the conjunction, flip to NULL under ~, and
    be DROPPED by the filter; each comparison is therefore coalesced to
    False so missing-key / NULL-value records are kept.
    """
    rec = F.coalesce(F.col(record_col), F.col(old_record_col))
    match_all = F.lit(True)
    for k, v in unwatched_records.items():
        match_all = match_all & F.coalesce(
            rec.getItem(k) == F.lit(str(v)), F.lit(False)
        )
    return df.filter(rec.isNotNull() & ~match_all)


# ---------------------------------------------------------------------------
# Diff + projection
# ---------------------------------------------------------------------------


def map_changes(
    old_col: Column | str = "old_record", new_col: Column | str = "record"
) -> Column:
    """Per-field diff map: {field: struct(old_value, new_value)} for every
    field where old IS DISTINCT FROM new (transaction_filter.ex:209-222).

    Key-set semantics follow the reference EXACTLY: ``map_changes``
    iterates ``Map.keys(old_record)`` (transaction_filter.ex:210), so
    only fields PRESENT IN THE OLD RECORD can appear in the diff — a
    field carried only by the new record is never reported. This is
    load-bearing under REPLICA IDENTITY DEFAULT, where an UPDATE's
    old_record holds ONLY key columns: the reference reports changes
    for those keys alone (usually none), not "every non-key field
    changed from NULL". `map_zip_with` pairs the key UNION, so the
    filter keeps a pair only when the key exists in old
    (`map_contains_key`) AND old IS DISTINCT FROM new (`<=>` — an
    old key missing from new diffs against NULL, which the reference's
    `Map.get(new, field) == nil` matches).

    IMPLEMENTATION NOTE — no outer column references inside lambdas:
    a named column referenced INSIDE a higher-order-function lambda
    resolves lazily, against the scope where the whole expression
    finally lands; in event_projection's select a sibling
    ``.alias("old_record")`` (NULL for updates) would shadow it and
    silently empty every diff. Presence-in-old is therefore encoded by
    wrapping old's VALUES in a non-null sentinel struct BEFORE the zip
    (transform_values runs eagerly on old_c as a direct argument):
    after ``map_zip_with``, the wrapped side is NULL exactly when the
    key was absent from old — unambiguous even for present-but-NULL
    cells — and every lambda below touches only its own arguments.
    """
    old_c = F.col(old_col) if isinstance(old_col, str) else old_col
    new_c = F.col(new_col) if isinstance(new_col, str) else new_col
    wrapped_old = F.transform_values(
        old_c, lambda _k, v: F.struct(v.alias("val"))
    )
    zipped = F.map_zip_with(
        wrapped_old,
        new_c,
        lambda _k, ow, n: F.struct(
            ow.isNotNull().alias("in_old"),
            ow.getField("val").alias("old_value"),
            n.alias("new_value"),
        ),
    )
    filtered = F.map_filter(
        zipped,
        lambda _k, v: v.getField("in_old")
        & ~v.getField("old_value").eqNullSafe(v.getField("new_value")),
    )
    return F.transform_values(
        filtered,
        lambda _k, v: F.struct(
            v.getField("old_value").alias("old_value"),
            v.getField("new_value").alias("new_value"),
        ),
    )


def set_type() -> Column:
    """"{table}.{insert|update|delete}" event-type string
    (helpers.ex:5-7)."""
    return F.concat_ws(".", F.col("table"), F.lower(F.col("op")))


def lsn_column() -> Column:
    """Single orderable BIGINT lsn = hi<<32 | lo (decoder.ex:271-272)."""
    return (
        F.col("lsn_hi").cast(T.LongType()) * F.lit(4294967296)
        + F.col("lsn_lo").cast(T.LongType())
    ).alias("lsn")


def wal_position() -> Column:
    """A change's WAL position ``(lsn, change_idx)``; rises in commit order."""
    return F.struct(lsn_column(), F.col("change_idx"))


def row_image() -> Column:
    """The change's row image: the new tuple; for a DELETE the old
    tuple, or under REPLICA IDENTITY DEFAULT the key-only tuple the
    decoder puts in ``key_record`` (decoder.ex:166-181). NULL for a
    TRUNCATE.

    This is the one expression that picks a change's row: the primary
    key (``key_cells``, ``pk_column``) and a DELETE Event's
    ``old_record`` (``event_projection``) read through it."""
    return F.coalesce(F.col("record"), F.col("old_record"), F.col("key_record"))


def key_cells(key_cols: list[str]) -> list[Column]:
    """The ``key_cols`` cells of the change's ``row_image``, one column
    each."""
    rec = row_image()
    return [rec.getItem(k) for k in key_cols]


def _joined_key(cells: list[Column]) -> Column:
    return F.concat_ws("\x00", *[F.coalesce(c, F.lit("")) for c in cells])


def pk_column(key_cols: list[str]) -> Column:
    """Null-safe primary key: the ``key_cells``, NUL-joined, a missing
    cell as ''."""
    return _joined_key(key_cells(key_cols))


def split_key_changes(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Envelope → envelope: an UPDATE that changes its primary key
    becomes a DELETE of the old key followed by the UPDATE of the new
    one, both at the UPDATE's (lsn, change_idx).

    The old image is ``coalesce(key_record, old_record)``: pgoutput
    ships the old key as a 'K' tuple under REPLICA IDENTITY DEFAULT
    when the key changed, the whole old row as an 'O' tuple under FULL
    (``sources.pgoutput._update``). Left whole, such an UPDATE is keyed
    by its new tuple alone and the old key stays live. An old image
    missing a key cell names no key and is not split. The old image
    moves to the DELETE row (its ``row_image``), so the UPDATE row no
    longer carries it and a second application changes nothing. One
    pass, no shuffle.
    """
    old = F.coalesce(F.col("key_record"), F.col("old_record"))
    old_cells = [old.getItem(k) for k in key_cols]
    moved = (F.col("op") == "UPDATE") & (_joined_key(old_cells) != pk_column(key_cols))
    for c in old_cells:
        moved = moved & c.isNotNull()
    halves = F.when(moved, F.array(F.lit(True), F.lit(False))).otherwise(
        F.array(F.lit(False))
    )
    split = df.withColumn("__moved", moved).withColumn("__old_key", F.explode(halves))
    old_key, new_key = F.col("__old_key"), F.col("__moved") & ~F.col("__old_key")
    rewrite = {
        "op": F.when(old_key, F.lit("DELETE")).otherwise(F.col("op")),
        "record": F.when(~old_key, F.col("record")),
        "old_record": F.when(~new_key, F.col("old_record")),
        "key_record": F.when(~new_key, F.col("key_record")),
    }
    return split.select(*[rewrite.get(c, F.col(c)).alias(c) for c in df.columns])


ROW_KEY = ["schema", "table", "__pk"]
REPLAY_HORIZON = "1 hour"  # a stream's dedup_replay watermark on commit_ts


def lsn_raising_on_truncate() -> Column:
    """``lsn_column``, failing the query on a TRUNCATE row."""
    return F.when(
        F.col("op") == "TRUNCATE",
        F.raise_error(
            F.lit(
                "TRUNCATE in a changelog fed to a per-key history operator; "
                "apply it with materialize_table_state or ParquetStateSink"
            )
        ),
    ).otherwise(lsn_column())


def by_row_key(
    df: DataFrame,
    key_cols: list[str],
    applied: bool,
    partition: list[Column] | None = None,
):
    """The one row identity of the per-key operators: ``df`` with
    ``__pk`` (``pk_column``) and ``__lsn`` (``lsn_column``), and the
    window over each row's changes in WAL order, ``(__lsn,
    change_idx)``. A row is ``ROW_KEY``, ``(schema, table, __pk)``:
    tables that share a key value never share a row.

    ``applied`` changes are the ones an operator folds into per-key
    state: a key-changing UPDATE is split first (``split_key_changes``)
    and a TRUNCATE, which names no key, fails the query. ``partition``
    replaces ``ROW_KEY`` as the window key."""
    if applied:
        df = split_key_changes(df, key_cols)
    lsn = lsn_raising_on_truncate() if applied else lsn_column()
    keyed = df.withColumn("__lsn", lsn).withColumn("__pk", pk_column(key_cols))
    w = Window.partitionBy(*(partition or ROW_KEY)).orderBy("__lsn", "change_idx")
    return keyed, w


def lsn_string() -> Column:
    """"HEX/HEX" formatting (event.ex:170-175)."""
    return F.concat(
        F.upper(F.hex(F.col("lsn_hi"))), F.lit("/"), F.upper(F.hex(F.col("lsn_lo")))
    )


def source_struct(db: str | None = None) -> Column:
    """Provenance struct (source.ex:4-13, event.ex:113-122): name,
    version, db, schema, table, columns name→type map."""
    cols_map = F.when(
        F.col("columns").isNotNull(),
        F.map_from_entries(
            F.transform(
                F.col("columns"),
                lambda c: F.struct(
                    c.getField("name").alias("key"), c.getField("type").alias("value")
                ),
            )
        ),
    )
    return F.struct(
        F.lit(SOURCE_NAME).alias("name"),
        F.lit(SOURCE_VERSION).alias("version"),
        F.lit(db).cast(T.StringType()).alias("db"),
        F.col("schema").alias("schema"),
        F.col("table").alias("table"),
        cols_map.alias("columns"),
    ).cast(EVENT_SOURCE_SCHEMA)


def event_projection(df: DataFrame, db: str | None = None) -> DataFrame:
    """Change envelope → Event rows (Event.cast/2, event.ex:43-111).

    Per-op semantics (reference):
      INSERT: new_record only, no changes
      UPDATE: new_record + changes diff; old_record deliberately
              omitted to shrink payload (event.ex:65-87, README.md:215-217)
      DELETE: old_record only, the change's ``row_image``
    """
    is_insert = F.col("op") == "INSERT"
    is_update = F.col("op") == "UPDATE"
    is_delete = F.col("op") == "DELETE"
    return df.select(
        F.col("table").alias("name"),
        F.lower(F.col("op")).alias("type"),
        source_struct(db).alias("source"),
        F.when(is_insert | is_update, F.col("record")).alias("new_record"),
        F.when(is_delete, row_image()).alias("old_record"),
        F.when(is_update, map_changes("old_record", "record")).alias("changes"),
        F.col("commit_ts").alias("timestamp"),
        lsn_string().alias("lsn"),
        lsn_column().alias("lsn_ord"),
        F.col("change_idx"),
    )


def filter_and_cast(
    df: DataFrame,
    table: str | None = None,
    record_types: list[str] | None = None,
    subscriptions: list[str] | None = None,
    unwatched_records: dict[str, str] | None = None,
    unwatched_fields: list[str] | None = None,
    db: str | None = None,
) -> DataFrame:
    """Composed pipeline (filter_and_cast/2,5 — event.ex:132-168).

    Declarative order differs from the reference's imperative order
    (which cast before filtering in the 5-arity path, a known TODO at
    event.ex:138) — Catalyst pushes the cheap predicates below the
    projection automatically.
    """
    out = filter_subscribed(df, subscriptions)
    if table is not None:
        out = filter_changes(out, table, record_types)
    out = event_projection(out, db)
    if unwatched_records:
        out = filter_unwatched_records(out, unwatched_records)
    if unwatched_fields:
        out = filter_unwatched_fields(out, unwatched_fields)
    return out


def events_to_json(df: DataFrame) -> Column:
    """Event rows → JSON strings (the reference derives Jason.Encoder
    for Event/Source/Changes — event.ex:5, source.ex:4, changes.ex:36-40).
    Call on the output of event_projection."""
    return F.to_json(
        F.struct(
            "name", "type", "source", "new_record", "old_record", "changes",
            "timestamp", "lsn",
        )
    )


def resolve_unchanged_toast(
    df: DataFrame,
    key_cols: list[str],
    columns: list[str],
) -> DataFrame:
    """Replace unchanged-TOAST sentinels with the previous value of the
    same column for the same primary key (SURVEY.md §7.4; the reference
    ships `:unchanged_toast` through untouched — decoder.ex:226-227 —
    leaving resolution to the consumer; here it is an operator).

    Batch form: per row (``by_row_key``) in WAL order, each sentinel
    cell takes `last(non-sentinel value)` over the preceding frame —
    one shuffle on the row key, the same partitioning the
    materialization step needs. Changes are not split and a TRUNCATE
    passes through. ``columns`` comes from the relation registry (wire
    schemas are dynamic, §1.2). Cells with no prior value resolve to
    NULL (documented deviation: text envelopes cannot carry the atom).
    """
    from walex_spark.model import UNCHANGED_TOAST

    keyed, w = by_row_key(df, key_cols, applied=False)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rec = F.col("record")
    entries = []
    for c in columns:
        cell = rec.getItem(c)
        resolved = F.last(
            F.when(cell != UNCHANGED_TOAST, cell), ignorenulls=True
        ).over(w)
        entries.append(
            F.struct(
                F.lit(c).alias("key"),
                F.when(cell == UNCHANGED_TOAST, resolved)
                .otherwise(cell)
                .alias("value"),
            )
        )
    fixed = F.map_from_entries(F.array(*entries))  # null values legal in maps
    return (
        keyed.withColumn(
            "record", F.when(rec.isNotNull(), fixed).otherwise(rec)
        )
        .drop("__lsn", "__pk")
    )


# ---------------------------------------------------------------------------
# Table-state materialization (R10) + replay dedup (R12)
# ---------------------------------------------------------------------------


def dedup_replay(df: DataFrame) -> DataFrame:
    """Exactly-once on at-least-once replay: drop duplicate
    (lsn, change_idx) rows (SURVEY.md §2.9 R12; the reference documents
    duplicates on durable-slot restart, replication/supervisor.ex:35-40).
    A stream keeps its keys for ``REPLAY_HORIZON`` of ``commit_ts``; a
    row later than that is dropped (Spark's ``numRowsDroppedByWatermark``)."""
    key = ["lsn_hi", "lsn_lo", "change_idx"]
    if not df.isStreaming:
        return df.dropDuplicates(key)
    return df.withWatermark("commit_ts", REPLAY_HORIZON).dropDuplicatesWithinWatermark(key)


def materialize_table_state(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Apply I/U/D/TRUNCATE in LSN order → current snapshot (R10).

    Batch form: per row (``by_row_key``) the last change in WAL order —
    the one with no next — wins, then DELETE rows drop out. At scale
    this is a single shuffle on the row key — the same partitioning a
    downstream MERGE would need; skewed keys are handled by AQE.

    TRUNCATE is a table-wide tombstone (pgoutput Truncate message,
    pgoutput.py:170): every row of that (schema, table) with a lower
    (lsn, change_idx) is wiped before per-key winners are picked, and
    the TRUNCATE row itself never reaches the output. The truncate
    high-water marks aggregate to one row per truncated table —
    metadata-sized, so the join back is an explicit broadcast.

    ``key_cols`` index into the change's ``row_image`` (e.g. ["id"]);
    a key-changing UPDATE is split (``split_key_changes``) before the
    per-key pick. The split comes after the TRUNCATE wipe, which it
    does not affect, so the optimizer still sees the input's own ``op``
    there and prunes the wipe when no TRUNCATE can occur.
    """
    trunc_pts = (
        df.filter(F.col("op") == "TRUNCATE")
        .groupBy("schema", "table")
        .agg(F.max(wal_position()).alias("__trunc_ord"))
    )
    wiped = df.join(F.broadcast(trunc_pts), ["schema", "table"], "left").filter(
        (F.col("op") != "TRUNCATE")
        & (F.col("__trunc_ord").isNull() | (wal_position() > F.col("__trunc_ord")))
    )
    keyed, w = by_row_key(wiped, key_cols, applied=True)
    return (
        keyed.withColumn("__last", F.lead(F.lit(True)).over(w).isNull())
        .filter(F.col("__last") & (F.col("op") != "DELETE"))
        .select(*df.columns)
    )
