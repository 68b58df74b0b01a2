"""pgoutput binary decode: raw logical-replication frames → the
canonical change envelope (SURVEY.md §2.3).

Message formats follow the public PostgreSQL logical-replication
protocol documentation (protocol version 1): Begin 'B', Commit 'C',
Origin 'O', Relation 'R', Type 'Y', Insert 'I', Update 'U', Delete 'D',
Truncate 'T', with TupleData cells 'n' (NULL) / 'u' (unchanged TOAST) /
't' (text). Parity surface: lib/walex/decoder/decoder.ex:67-239 (same
protocol, independent implementation).

Spark-first decomposition — the reference decodes and assembles in one
ordered pass (publisher.ex:57-77); here that pass runs once per range
partition of the stream, and only its boundaries are serial:

  1. ``collect_registry`` — Relation/Type entries, collected FIRST from
     the (tiny) 'R'/'Y' frames and broadcast into the decode closure —
     the "slowly-changing broadcast state" form of publisher.ex:79-95.
  2. ``decode_frames`` — one range exchange on frame_idx, then an
     Arrow-batched walk over each partition in frame order: each tag
     is parsed by its one parser (the same ones ``decode_message``
     uses), and each change is stamped with its transaction's xid,
     commit_ts, lsn and change_idx as it goes. Changes of transactions
     that never commit are dropped; one summary row per partition
     records the transaction open at its end.
  3. ``stamp_transactions`` — a driver-side prefix scan over those
     summary rows (metadata-sized) finishes the rows a partition could
     not: the head rows that continue the previous partition's open
     transaction, and the tail rows whose COMMIT is in a later one. It
     applies as a broadcast join on the partition id.

Unknown relation ids are dropped, matching publisher.ex:124-126.
"""

from __future__ import annotations

import struct
from bisect import bisect_right
from datetime import datetime, timedelta, timezone
from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
        T.StructField("kind", T.IntegerType()),
    ]
)


def decode_frames(frames: DataFrame, registry: dict) -> DataFrame:
    """Pass 2: decode and stamp the frames in one ordered walk per
    partition, against the broadcast registry.

    The one exchange range-partitions the frames on ``frame_idx``; each
    partition is sorted, so it holds one contiguous stretch of the
    stream. The walk is the reference's transaction loop
    (publisher.ex:57-77): BEGIN opens a transaction, each change is
    stamped with its xid, commit_ts, lsn and change_idx, and COMMIT
    makes the changes final. A BEGIN while a transaction is open
    discards it; a change outside any transaction is dropped. Only the
    open transaction's changes are held across Arrow batches. Cells zip
    against the relation version in effect at the change's own position
    (registry_lookup, publisher.ex:247-279); changes of unknown
    relations are skipped (publisher.ex:124-126).

    The walk does not know the transaction open where its partition
    starts, so ``kind`` says how far a row is stamped:

      - ``_HEAD``: a change before the partition's first BEGIN/COMMIT.
        It continues the incoming transaction: xid, commit_ts and lsn
        are null and change_idx counts from 0 in this partition.
      - ``_DONE``: a change whose transaction committed here.
      - ``_TAIL``: a change of the transaction open at the end; it
        stands if that transaction commits in a later partition.
      - ``_END``: one row per partition, its state at the end. ``op``
        is what ended the incoming transaction ("BEGIN", "COMMIT", or
        null if nothing did); xid, commit_ts and lsn are the open local
        transaction and change_idx the open transaction's change count.

    stamp_transactions finishes the HEAD and TAIL rows from the END rows."""

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

    names = [f.name for f in _DECODED_SCHEMA.fields]
    ts_pos = names.index("commit_ts")

    def to_pandas(rows: list[tuple], kinds: list[int]):
        # Columnar: one transpose of the row tuples, not a dict per row.
        # Object dtype on every nullable column: equal-length nested
        # lists would collapse into a 2-D ndarray, and all-None columns
        # would infer float64 NaN; both break Arrow conversion.
        import pandas as pd

        cols = [pd.Series(c, dtype="object") for c in zip(*rows)] or [
            pd.Series([], dtype="object") for _ in range(len(names) - 1)
        ]
        cols[ts_pos] = pd.to_datetime(cols[ts_pos])
        return pd.DataFrame(dict(zip(names, cols + [pd.Series(kinds, dtype="int32")])))

    def decode_part(batches: Iterator) -> Iterator:
        incoming = (None, None, None)  # the transaction open at the partition's start
        txn = incoming  # (commit_ts, lsn, xid) of the open transaction, or None
        n = 0  # changes of txn so far
        head_end = None  # "BEGIN" / "COMMIT": what ended the incoming transaction
        held: list[tuple] = []  # txn's changes, not final until its COMMIT
        for pdf in batches:
            out: list[tuple] = []
            kinds: list[int] = []
            for idx, payload in zip(pdf["frame_idx"].to_numpy(), pdf["payload"].to_numpy()):
                buf = bytes(payload)
                tag = buf[0:1]
                if tag == b"B" or tag == b"C":
                    if txn is incoming:
                        head_end = "BEGIN" if tag == b"B" else "COMMIT"
                    if tag == b"C" and txn is not None:
                        out += held
                        kinds += [_HEAD if txn is incoming else _DONE] * len(held)
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
                         zip_cells(rel, m.get("key")), *txn, n)
                    )
                    n += 1
            yield to_pandas(out, kinds)
        open_txn = (None,) * 4 if txn is None else (*txn, n)
        end = (None, None, head_end) + (None,) * 6 + open_txn
        kinds = [_HEAD if txn is incoming else _TAIL] * len(held) + [_END]
        yield to_pandas(held + [end], kinds)

    n_part = frames.sparkSession.sparkContext.defaultParallelism
    return (
        frames.select("frame_idx", "payload")
        .repartitionByRange(n_part, "frame_idx")
        .sortWithinPartitions("frame_idx")
        .mapInPandas(decode_part, _DECODED_SCHEMA)
        .withColumn("part", F.spark_partition_id())
    )


_CARRY_SCHEMA = (
    "part int, carry_commit_us long, carry_lsn long, carry_xid long, "
    "carry_n int, head_ok boolean, tail_ok boolean"
)


def _carry(ends: list) -> list[tuple]:
    """Prefix scan over decode_frames' END rows, in partition order:
    per partition, the transaction its HEAD rows continue (commit_ts
    µs, lsn, xid, change_idx offset) and whether its HEAD and TAIL
    rows commit. A transaction may span any number of partitions; its
    fate is known at the partition whose walk sees its COMMIT (or the
    BEGIN that discards it)."""
    head_ok, tail_ok = 5, 6  # flag slots of an output row
    out = []
    txn = None  # (commit_us, lsn, xid, n) open where the next partition starts
    waiting: list[tuple[list, int]] = []  # (row, flag slot) that commit with txn
    for e in sorted(ends, key=lambda e: e.part):
        row = [e.part, *(txn or (None,) * 4), False, False]
        out.append(row)
        if e.op is None:  # no BEGIN/COMMIT: the whole partition continues txn
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

    The decoded rows are materialized once (a local checkpoint, filled
    by the collect below: the one eager action here), because they are
    read twice. The END rows, one per partition, are collected and
    ``_carry`` scans them on the driver; the result joins back on the
    partition id as a broadcast, which stamps the HEAD rows and keeps
    the HEAD and TAIL rows whose transaction committed. No window and
    no shuffle: the only serial step is the scan over one row per
    partition."""
    decoded = decoded.localCheckpoint(eager=False)
    ends = (
        decoded.filter(F.col("kind") == _END)
        .select("part", "op", F.unix_micros("commit_ts").alias("commit_us"),
                "lsn", "xid", "change_idx")
        .collect()
    )
    carry = decoded.sparkSession.createDataFrame(_carry(ends), _CARRY_SCHEMA)
    kind = F.col("kind")
    head = kind == _HEAD
    rows = decoded.join(F.broadcast(carry), "part").filter(
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
    collect → one ordered decode-and-stamp pass per range partition
    (decode_frames) → the per-partition carry (stamp_transactions).

    Two eager actions: the registry collect (skipped when ``registry``
    is given) and stamp_transactions' collect of the per-partition END
    rows, which also materializes the decoded rows for the output.

    ``registry``: a pre-collected versioned relation registry, as
    ``collect_registry`` returns it (e.g. over just the Relation/Type
    frames, or accumulated across microbatches), to skip the pass-1
    scan of the full frame stream — on storage that's a pruned
    re-scan, but on a synthesized/streamed source it's a whole extra
    materialization."""
    if registry is None:
        registry = collect_registry(frames)
    return stamp_transactions(decode_frames(frames, registry))
