"""pgoutput binary decode: raw logical-replication frames → the
canonical change envelope (SURVEY.md §2.3).

Message formats follow the public PostgreSQL logical-replication
protocol documentation (protocol version 1): Begin 'B', Commit 'C',
Origin 'O', Relation 'R', Type 'Y', Insert 'I', Update 'U', Delete 'D',
Truncate 'T', with TupleData cells 'n' (NULL) / 'u' (unchanged TOAST) /
't' (text). Parity surface: lib/walex/decoder/decoder.ex:67-239 (same
protocol, independent implementation).

Spark-first decomposition — the reference decodes and assembles in one
ordered pass (publisher.ex:57-77); here that pass runs once per run of
the stream (an ordered stretch of one input file), and only the run
boundaries are serial. The input contract: the runs are disjoint
ranges of the stream, and each frame arrives once. A stream written
file by file, each file a contiguous frame_idx range, meets it as
stored; frames that arrive in another order must be range-partitioned
on frame_idx first. Input that breaks it fails the decode:

  1. ``collect_registry`` — Relation/Type entries, collected FIRST from
     the (tiny) 'R'/'Y' frames and broadcast into the decode closure —
     the "slowly-changing broadcast state" form of publisher.ex:79-95.
  2. ``decode_frames`` — no exchange: each input partition is sorted
     on frame_idx, and one ``mapInArrow`` walk per run visits its
     frames in order: each tag is parsed by its one parser (the same
     ones ``decode_message`` uses), and each change is stamped with
     its transaction's xid, commit_ts, lsn and change_idx as it goes.
     Changes of transactions that never commit are dropped; one END row
     per run records its first and last frame_idx and the transaction
     open at its end.
  3. ``stamp_transactions`` — a driver-side prefix scan over those END
     rows (metadata-sized), in frame order, finishes the rows a run
     could not: the head rows that continue the previous run's open
     transaction, and the tail rows whose COMMIT is in a later one. It
     applies as a broadcast join of a driver-local table on the run.
     Runs that overlap raise: the input was not stored in order, or it
     holds a frame twice.

Unknown relation ids are dropped, matching publisher.ex:124-126.
"""

from __future__ import annotations

import struct
from bisect import bisect_right
from datetime import datetime, timedelta, timezone
from itertools import chain, groupby
from operator import itemgetter
from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException
from pyspark.sql.pandas.types import to_arrow_schema

from walex_spark.functions.pg_types import OID_TO_NAME
from walex_spark.model import UNCHANGED_TOAST

PG_EPOCH = datetime(2000, 1, 1, tzinfo=timezone.utc)


def _cstring(buf: bytes, pos: int) -> tuple[str, int]:
    end = buf.index(b"\x00", pos)
    return buf[pos:end].decode("utf-8"), end + 1


def _pg_ts(micros: int) -> datetime:
    return (PG_EPOCH + timedelta(microseconds=micros)).replace(tzinfo=None)


def _tuple_data(buf: bytes, pos: int) -> tuple[list[str | None], int]:
    """TupleData: int16 ncols then per-cell 'n' | 'u' | 't'<int32 len>."""
    (ncols,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    cells: list[str | None] = []
    for _ in range(ncols):
        kind = buf[pos : pos + 1]
        pos += 1
        if kind == b"n":
            cells.append(None)
        elif kind == b"u":
            cells.append(UNCHANGED_TOAST)
        elif kind == b"t":
            (ln,) = struct.unpack_from(">I", buf, pos)
            pos += 4
            cells.append(buf[pos : pos + ln].decode("utf-8"))
            pos += ln
        else:
            raise ValueError(f"unknown TupleData cell kind {kind!r}")
    return cells, pos


# -- per-tag parsers -------------------------------------------------------
# One function per message tag, each returning decode_message's dict;
# decode_frames calls the same functions on its hot loop.


def _begin(buf: bytes) -> dict[str, Any]:
    final_lsn, ts, xid = struct.unpack_from(">QQI", buf, 1)
    return {"op": "BEGIN", "final_lsn": final_lsn, "commit_ts": _pg_ts(ts), "xid": xid}


def _commit(buf: bytes) -> dict[str, Any]:
    _flags, commit_lsn, end_lsn, ts = struct.unpack_from(">BQQQ", buf, 1)
    return {
        "op": "COMMIT",
        "commit_lsn": commit_lsn,
        "end_lsn": end_lsn,
        "commit_ts": _pg_ts(ts),
    }


def _origin(buf: bytes) -> dict[str, Any]:
    (origin_lsn,) = struct.unpack_from(">Q", buf, 1)
    name, _ = _cstring(buf, 9)
    return {"op": "ORIGIN", "origin_lsn": origin_lsn, "origin_name": name}


def _relation(buf: bytes) -> dict[str, Any]:
    (rel_id,) = struct.unpack_from(">I", buf, 1)
    pos = 5
    namespace, pos = _cstring(buf, pos)
    name, pos = _cstring(buf, pos)
    replica_identity = buf[pos : pos + 1].decode()
    pos += 1
    (ncols,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    cols = []
    for _ in range(ncols):
        flags = buf[pos]
        pos += 1
        cname, pos = _cstring(buf, pos)
        type_oid, type_mod = struct.unpack_from(">Ii", buf, pos)
        pos += 8
        cols.append(
            {
                "name": cname,
                "type": OID_TO_NAME.get(type_oid, str(type_oid)),
                "is_key": bool(flags & 1),
                "type_modifier": type_mod,
            }
        )
    return {
        "op": "RELATION",
        "relation_id": rel_id,
        "namespace": namespace or "pg_catalog",
        "name": name,
        "replica_identity": {"d": "default", "n": "nothing", "f": "all_columns", "i": "index"}[
            replica_identity
        ],
        "columns": cols,
    }


def _type(buf: bytes) -> dict[str, Any]:
    (type_id,) = struct.unpack_from(">I", buf, 1)
    namespace, pos = _cstring(buf, 5)
    name, _ = _cstring(buf, pos)
    return {"op": "TYPE", "type_id": type_id, "namespace": namespace, "name": name}


def _expect_new(buf: bytes, pos: int) -> None:
    if buf[pos : pos + 1] != b"N":
        raise ValueError(f"pgoutput {buf[0:1]!r} frame: expected 'N' tuple at byte {pos}")


def _insert(buf: bytes) -> dict[str, Any]:
    (rel_id,) = struct.unpack_from(">I", buf, 1)
    _expect_new(buf, 5)
    return {"op": "INSERT", "relation_id": rel_id, "new": _tuple_data(buf, 6)[0]}


def _update(buf: bytes) -> dict[str, Any]:
    (rel_id,) = struct.unpack_from(">I", buf, 1)
    pos = 5
    old = key = None
    marker = buf[5:6]
    if marker in (b"K", b"O"):
        cells, pos = _tuple_data(buf, 6)
        if marker == b"K":
            key = cells
        else:
            old = cells
    _expect_new(buf, pos)
    new, _ = _tuple_data(buf, pos + 1)
    return {"op": "UPDATE", "relation_id": rel_id, "new": new, "old": old, "key": key}


def _delete(buf: bytes) -> dict[str, Any]:
    (rel_id,) = struct.unpack_from(">I", buf, 1)
    cells, _ = _tuple_data(buf, 6)
    key = buf[5:6] == b"K"
    return {
        "op": "DELETE",
        "relation_id": rel_id,
        "old": None if key else cells,
        "key": cells if key else None,
    }


def _truncate(buf: bytes) -> dict[str, Any]:
    nrel, options = struct.unpack_from(">IB", buf, 1)
    ids = struct.unpack_from(f">{nrel}I", buf, 6)
    return {"op": "TRUNCATE", "relation_ids": list(ids), "options": options}


_PARSERS = {
    b"B": _begin, b"C": _commit, b"O": _origin, b"R": _relation, b"Y": _type,
    b"I": _insert, b"U": _update, b"D": _delete, b"T": _truncate,
}
_CHANGES = {b"I", b"U", b"D", b"T"}  # tags whose frames become change rows


def decode_message(buf: bytes) -> dict[str, Any]:
    """One pgoutput frame → a plain dict (tag-dependent fields).

    Mirrors the dispatch surface of decoder.ex:67-216; built from the
    PostgreSQL protocol docs, lenient only in that unknown tags return
    {'op': 'UNSUPPORTED'} like the reference's Unsupported struct.
    """
    parse = _PARSERS.get(buf[0:1])
    if parse is None:
        return {"op": "UNSUPPORTED", "tag": buf[0:1].decode("latin1")}
    return parse(buf)


# -- frame encoders ---------------------------------------------------------
# The inverse direction (dicts → wire frames), used by tests and by the
# round-trip correctness query; same public protocol layout as above.


def _enc_cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _enc_cell(v) -> bytes:
    if v is None:
        return b"n"
    if v == UNCHANGED_TOAST:
        return b"u"
    b = str(v).encode()
    return b"t" + struct.pack(">I", len(b)) + b


def _enc_tuple(cells) -> bytes:
    return struct.pack(">H", len(cells)) + b"".join(_enc_cell(c) for c in cells)


def encode_begin(lsn: int, ts_micros_pg: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QQI", lsn, ts_micros_pg, xid)


def encode_commit(lsn: int, ts_micros_pg: int) -> bytes:
    # end_lsn is the next byte past the commit record (+8 here, the
    # synthetic record length); uint64-wrap like pg_lsn arithmetic so
    # a max-valued lsn can't overflow the pack (hypothesis-found edge)
    return b"C" + struct.pack(
        ">BQQQ", 0, lsn, (lsn + 8) & 0xFFFFFFFFFFFFFFFF, ts_micros_pg
    )


def encode_relation(
    rel_id: int,
    name: str,
    cols: list[tuple[str, int, bool]],
    namespace: str = "public",
    replica_identity: str = "d",
) -> bytes:
    body = struct.pack(">I", rel_id) + _enc_cstr(namespace) + _enc_cstr(name)
    body += replica_identity.encode() + struct.pack(">H", len(cols))
    for cname, oid, is_key in cols:
        body += struct.pack(">B", 1 if is_key else 0) + _enc_cstr(cname)
        body += struct.pack(">Ii", oid, -1)
    return b"R" + body


def encode_insert(rel_id: int, cells) -> bytes:
    return b"I" + struct.pack(">I", rel_id) + b"N" + _enc_tuple(cells)


def encode_update(rel_id: int, new, old=None, key=None) -> bytes:
    body = struct.pack(">I", rel_id)
    if key is not None:
        body += b"K" + _enc_tuple(key)
    if old is not None:
        body += b"O" + _enc_tuple(old)
    return b"U" + body + b"N" + _enc_tuple(new)


def encode_delete(rel_id: int, old=None, key=None) -> bytes:
    body = struct.pack(">I", rel_id)
    if key is not None:
        return b"D" + body + b"K" + _enc_tuple(key)
    return b"D" + body + b"O" + _enc_tuple(old)


def encode_truncate(rel_ids, options: int = 0) -> bytes:
    return b"T" + struct.pack(">IB", len(rel_ids), options) + struct.pack(
        f">{len(rel_ids)}I", *rel_ids
    )


def collect_registry(frames: DataFrame) -> dict[int, tuple[list[int], list[dict]]]:
    """Pass 1: Relation/Type frames → broadcastable VERSIONED registry:
    ``{relation_id: ([valid_from_idx...], [relation_msg...])}`` with
    ascending validity bounds.

    'R'/'Y' frames are a vanishing fraction of the stream (one per
    table per session/schema-change), so collecting them to the driver
    is metadata-sized regardless of stream volume. Keeping every
    version (not last-wins) means a Relation re-sent after a mid-stream
    schema change applies only to frames AFTER it — earlier frames
    decode against the schema that was current when they were written,
    exactly like the reference's sequential registry updates
    (publisher.ex:79-95). Custom-type registrations ('Y') accumulate in
    stream order and resolve OIDs for relation versions collected after
    them."""
    tagged = frames.filter(
        F.substring(F.col("payload"), 1, 1).isin([bytes([82]), bytes([89])])  # R, Y
    )
    rows = sorted(
        (row[0], bytes(row[1]))
        for row in tagged.select("frame_idx", "payload").collect()
    )
    custom_types: dict[str, str] = {}
    registry: dict[int, tuple[list[int], list[dict]]] = {}
    for idx, buf in rows:
        msg = decode_message(buf)
        if msg["op"] == "TYPE":
            custom_types[str(msg["type_id"])] = msg["name"]
        elif msg["op"] == "RELATION":
            for col in msg["columns"]:
                col["type"] = custom_types.get(col["type"], col["type"])
            bounds, versions = registry.setdefault(msg["relation_id"], ([], []))
            bounds.append(idx)
            versions.append(msg)
    return registry


def registry_lookup(registry: dict, rel_id: int, frame_idx: int) -> dict | None:
    """Relation version in effect at ``frame_idx`` in a
    ``collect_registry`` registry. None when the relation is unknown
    (or not yet announced at this position in the stream): the frame is
    skipped, like the reference's unknown-relation drop
    (publisher.ex:124-126)."""
    entry = registry.get(rel_id)
    if entry is None:
        return None
    bounds, versions = entry
    pos = bisect_right(bounds, frame_idx) - 1
    return versions[pos] if pos >= 0 else None


# decode_frames' row kinds (column ``kind``); see decode_frames
_HEAD, _DONE, _TAIL, _END = 0, 1, 2, 3
_BATCH_ROWS = 10_000  # rows per RecordBatch decode_frames yields (Spark's default Arrow batch)

_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("frame_idx", T.LongType()),
        T.StructField("sub_idx", T.IntegerType()),  # TRUNCATE fan-out position
        T.StructField("op", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField(
            "columns",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("type", T.StringType()),
                        T.StructField("is_key", T.BooleanType()),
                        T.StructField("type_modifier", T.LongType()),
                    ]
                )
            ),
        ),
        T.StructField("record", T.MapType(T.StringType(), T.StringType())),
        T.StructField("old_record", T.MapType(T.StringType(), T.StringType())),
        T.StructField("key_record", T.MapType(T.StringType(), T.StringType())),
        T.StructField("commit_ts", T.TimestampType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("xid", T.LongType()),
        T.StructField("change_idx", T.IntegerType()),
        T.StructField("run", T.LongType()),  # the first frame_idx of the row's run
        T.StructField("kind", T.IntegerType()),
    ]
)


def _arrow_batch(rows: list[tuple], schema: pa.Schema) -> pa.RecordBatch:
    """Row tuples → one RecordBatch of ``schema``, built column by column."""
    cols = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )


def decode_frames(frames: DataFrame, registry: dict) -> DataFrame:
    """Pass 2: decode and stamp the frames in one ordered walk per run,
    against the broadcast registry. No exchange.

    Each input partition is sorted on ``frame_idx``. A run is a stretch
    of it read from one input file (a change of ``input_file_name()``
    starts the next run; frames from a non-file source form one run per
    partition). A stream stored as files that each hold a contiguous
    ``frame_idx`` range thus decodes as one ordered run per file, with
    no exchange, however the files are packed into partitions. A frame
    whose frame_idx does not rise past the one before it in its run
    arrived twice, and raises; stamp_transactions checks that the runs
    are disjoint ranges of the stream.

    The walk is the reference's transaction loop (publisher.ex:57-77):
    BEGIN opens a transaction, each change is stamped with its xid,
    commit_ts, lsn and change_idx, and COMMIT makes the changes final.
    A BEGIN while a transaction is open discards it; a change outside
    any transaction is dropped. Only the open transaction's changes are
    held, across Arrow batches. Cells zip against the relation version
    in effect at the change's own position (registry_lookup,
    publisher.ex:247-279); changes of unknown relations are skipped
    (publisher.ex:124-126). Arrow batches in and out: the output is
    built with ``_DECODED_SCHEMA``'s Arrow schema, no pandas.

    Every row carries ``run``, its run's first frame_idx. The walk does
    not know the transaction open where its run starts, so ``kind``
    says how far a row is stamped:

      - ``_HEAD``: a change before the run's first BEGIN/COMMIT. It
        continues the incoming transaction: xid, commit_ts and lsn are
        null and change_idx counts from 0 in this run.
      - ``_DONE``: a change whose transaction committed in this run.
      - ``_TAIL``: a change of the transaction open at the run's end;
        it stands if that transaction commits in a later run.
      - ``_END``: one row per run, its state at the end. ``frame_idx``
        is the run's last frame_idx (``run`` its first). ``op`` is what
        ended the incoming transaction ("BEGIN", "COMMIT", or null if
        nothing did); xid, commit_ts and lsn are the open local
        transaction and change_idx the open transaction's change count.

    stamp_transactions finishes the HEAD and TAIL rows from the END rows."""
    schema = to_arrow_schema(_DECODED_SCHEMA)

    def zip_cells(rel: dict, cells: list | None):
        if cells is None:
            return None
        cols = rel["columns"]
        if len(cells) != len(cols):
            # halt like the reference (publisher.ex zips positionally and
            # crashes the supervisor on shape drift): silently returning
            # NULL here would lose data without signal after a mid-stream
            # schema change the collected registry didn't see
            raise ValueError(
                f"pgoutput tuple arity {len(cells)} != "
                f"{rel['namespace']}.{rel['name']} registry arity {len(cols)}"
                " — mid-stream schema change? re-collect the relation registry"
            )
        return {c["name"]: v for c, v in zip(cols, cells)}

    def walk_run(run: Iterator[tuple]) -> Iterator[tuple]:
        """One run's rows, ``kind`` last; ``run`` yields its (file,
        frame_idx, payload) triples in frame order."""
        head = next(run)
        first = head[1]
        last = first - 1  # the previous frame's frame_idx
        incoming = (None, None, None)  # the transaction open at the run's start
        txn = incoming  # (commit_ts, lsn, xid) of the open transaction, or None
        n = 0  # changes of txn so far
        head_end = None  # "BEGIN" / "COMMIT": what ended the incoming transaction
        held: list[tuple] = []  # txn's changes, not final until its COMMIT
        for _, idx, buf in chain((head,), run):
            if idx <= last:  # sorted, so a repeat of the previous frame
                raise ValueError(
                    f"pgoutput frame_idx {idx} arrives twice in one decode;"
                    " each frame must arrive once"
                )
            last = idx
            tag = buf[0:1]
            if tag == b"B" or tag == b"C":
                if txn is incoming:
                    head_end = "BEGIN" if tag == b"B" else "COMMIT"
                if tag == b"C" and txn is not None:
                    kind = _HEAD if txn is incoming else _DONE
                    yield from ((*row, kind) for row in held)
                held, txn, n = [], None, 0
                if tag == b"B":
                    m = _begin(buf)
                    txn = (m["commit_ts"], m["final_lsn"], m["xid"])
                continue
            if txn is None or tag not in _CHANGES:
                continue
            m = _PARSERS[tag](buf)
            if tag == b"T":  # one row per relation, at its sub_idx
                targets = enumerate(m["relation_ids"])
            else:
                targets = ((0, m["relation_id"]),)
            for sub, rel_id in targets:
                rel = registry_lookup(registry, rel_id, idx)
                if rel is None:
                    continue
                held.append(
                    (idx, sub, m["op"], rel["namespace"], rel["name"],
                     None if tag == b"T" else rel["columns"],
                     zip_cells(rel, m.get("new")), zip_cells(rel, m.get("old")),
                     zip_cells(rel, m.get("key")), *txn, n, first)
                )
                n += 1
        kind = _HEAD if txn is incoming else _TAIL
        yield from ((*row, kind) for row in held)
        open_txn = (None,) * 4 if txn is None else (*txn, n)
        yield (idx, None, head_end, *(None,) * 6, *open_txn, first, _END)

    def walk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        frames = chain.from_iterable(
            zip(b["file"].to_pylist(), b["frame_idx"].to_pylist(), b["payload"].to_pylist())
            for b in batches
        )
        rows: list[tuple] = []
        for _, run in groupby(frames, key=itemgetter(0)):
            for row in walk_run(run):
                rows.append(row)
                if len(rows) == _BATCH_ROWS:
                    yield _arrow_batch(rows, schema)
                    rows = []
        yield _arrow_batch(rows, schema)

    try:
        runs = frames.select("frame_idx", "payload", F.xxhash64(F.input_file_name()).alias("file"))
    except AnalysisException as e:  # input_file_name() refuses a plan over two file sources
        if e.getCondition() != "MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION":
            raise
        runs = frames.select("frame_idx", "payload", F.lit(0).alias("file"))
    return runs.sortWithinPartitions("frame_idx").mapInArrow(walk, _DECODED_SCHEMA)


_CARRY_SCHEMA = pa.schema(
    [
        ("run", pa.int64()),
        ("carry_commit_us", pa.int64()),
        ("carry_lsn", pa.int64()),
        ("carry_xid", pa.int64()),
        ("carry_n", pa.int32()),
        ("head_ok", pa.bool_()),
        ("tail_ok", pa.bool_()),
    ]
)


def _carry(ends: list) -> list[tuple]:
    """Prefix scan over decode_frames' END rows, in stream order: per
    run, the transaction its HEAD rows continue (commit_ts µs, lsn,
    xid, change_idx offset) and whether its HEAD and TAIL rows commit.
    A transaction may span any number of runs; its fate is known at the
    run whose walk sees its COMMIT (or the BEGIN that discards it)."""
    head_ok, tail_ok = 5, 6  # flag slots of an output row
    out = []
    txn = None  # (commit_us, lsn, xid, n) open where the next run starts
    waiting: list[tuple[list, int]] = []  # (row, flag slot) that commit with txn
    for e in ends:
        row = [e.run, *(txn or (None,) * 4), False, False]
        out.append(row)
        if e.op is None:  # no BEGIN/COMMIT: the whole run continues txn
            if txn is not None:
                waiting.append((row, head_ok))
                txn = (*txn[:3], txn[3] + e.change_idx)
            continue
        if e.op == "COMMIT" and txn is not None:
            for r, slot in [*waiting, (row, head_ok)]:
                r[slot] = True
        txn, waiting = None, []
        if e.xid is not None:
            txn = (e.commit_us, e.lsn, e.xid, e.change_idx)
            waiting = [(row, tail_ok)]
    return [tuple(r) for r in out]


def stamp_transactions(decoded: DataFrame) -> DataFrame:
    """decode_frames' rows → the canonical envelope: per change (xid,
    commit_ts, lsn, change_idx), only changes of COMMITTED transactions
    (an unterminated tail is dropped, like the reference on restart).

    One Spark job. The decoded rows are materialized once (a local
    checkpoint, filled by the collect below: the one eager action
    here), because they are read twice. The END rows, one per run, are
    collected and ordered by each run's first frame_idx. No two runs
    may overlap, or the walk did not see the stream in order, or saw a
    frame twice: that raises ``ValueError``. ``_carry`` then scans the
    runs on the driver; its result is a driver-local Arrow table (a
    ``LocalRelation``, no Python tasks) that joins back on ``run`` as a
    broadcast, which stamps the HEAD rows and keeps the HEAD and TAIL
    rows whose transaction committed. No window and no shuffle: the
    only serial step is the scan over one row per run."""
    decoded = decoded.localCheckpoint(eager=False)
    ends = (
        decoded.filter(F.col("kind") == _END)
        .select("run", "frame_idx", "op", F.unix_micros("commit_ts").alias("commit_us"),
                "lsn", "xid", "change_idx")
        .collect()
    )
    ends.sort(key=lambda e: e.run)
    for prev, e in zip(ends, ends[1:]):
        if e.run <= prev.frame_idx:
            raise ValueError(
                f"decode_frames' runs overlap: frame_idx {prev.run}..{prev.frame_idx} "
                f"and {e.run}..{e.frame_idx}; the input holds a frame twice, or its "
                "partitions are not ordered stretches of the stream: range-partition "
                'it on frame_idx first, frames.repartitionByRange(n, "frame_idx")'
            )
    carry = decoded.sparkSession.createDataFrame(
        pa.Table.from_batches([_arrow_batch(_carry(ends), _CARRY_SCHEMA)])
    )
    kind = F.col("kind")
    head = kind == _HEAD
    rows = decoded.join(F.broadcast(carry), "run").filter(
        (kind == _DONE) | (head & F.col("head_ok")) | ((kind == _TAIL) & F.col("tail_ok"))
    )
    lsn = F.when(head, F.col("carry_lsn")).otherwise(F.col("lsn"))
    return rows.select(
        "op",
        "schema",
        "table",
        "columns",
        "record",
        "old_record",
        "key_record",
        F.when(head, F.timestamp_micros("carry_commit_us"))
        .otherwise(F.col("commit_ts"))
        .alias("commit_ts"),
        # bitwise split, not division: double math would lose precision
        # past 2^53 and a real WAL position exceeds 2^31 routinely
        F.shiftrightunsigned(lsn, 32).alias("lsn_hi"),
        lsn.bitwiseAND(F.lit(4294967295)).alias("lsn_lo"),
        F.when(head, F.col("carry_xid")).otherwise(F.col("xid")).alias("xid"),
        (F.col("change_idx") + F.when(head, F.col("carry_n")).otherwise(0)).alias("change_idx"),
    )


def decode_envelope(
    frames: DataFrame,
    registry: dict[int, tuple[list[int], list[dict]]] | None = None,
) -> DataFrame:
    """frames(frame_idx, payload) → canonical change envelope: registry
    collect → one ordered decode-and-stamp walk per run (decode_frames)
    → the carry across runs (stamp_transactions).

    One Spark job: stamp_transactions' collect of the END rows, which
    also materializes the decoded rows for the output. The registry
    collect adds one more unless ``registry`` is given. Frames that
    break the module doc's input contract (shuffled, or one arriving
    twice) raise ``ValueError`` instead of decoding.

    ``registry``: a pre-collected versioned relation registry, as
    ``collect_registry`` returns it (e.g. over just the Relation/Type
    frames, or accumulated across microbatches), to skip the pass-1
    scan of the full frame stream — on storage that's a pruned
    re-scan, but on a synthesized/streamed source it's a whole extra
    materialization."""
    if registry is None:
        registry = collect_registry(frames)
    return stamp_transactions(decode_frames(frames, registry))
