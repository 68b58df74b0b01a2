"""Seeded input generator for the CDC benchmark.

Every workload's inputs are a pure function of ``(workload, seed)`` and
the run length: the same arguments write byte-identical files and an
identical ``truth.json``. The program under
test only ever sees the files; the truth is what the benchmark checks
the program's output against.

The pgoutput encoder here is written from the public PostgreSQL
logical-replication protocol (version 1), independently of
``walex_spark.sources.pgoutput``, so an encoder/decoder bug in the
program cannot cancel itself out.

Pure Python plus pyarrow: no Spark, so generation is cheap, testable
and never counted in the benchmark's set-up time.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import shutil
import struct
import zlib
from itertools import islice

import pyarrow as pa
import pyarrow.parquet as pq

PG_EPOCH_UNIX_US = 946_684_800 * 1_000_000
# 2026-01-01 00:00:00 UTC, in microseconds since the PostgreSQL epoch
BASE_TS_PG_US = (1_767_225_600 * 1_000_000) - PG_EPOCH_UNIX_US
FILE_INTERVAL_S = 0.5  # both streams: one input file every half second
TOAST = object()  # unchanged-TOAST cell marker ('u' on the wire)

OID = {"int4": 23, "int8": 20, "text": 25, "numeric": 1700, "timestamptz": 1184,
       "_int4": 1007, "jsonb": 3802}

_WORDS = ["alpha", "bravo", "carbon", "delta", "ember", "fjord", "garnet",
          "harbor", "indigo", "jasper", "kelvin", "lumen", "meadow", "nectar"]


# -- checksums shared with the benchmark's Spark-side verification ----------

def crc(*parts) -> int:
    """crc32 of the parts joined by '|', skipping None — the same value
    Spark computes as ``crc32(cast(concat_ws('|', ...) as binary))``."""
    s = "|".join(str(p) for p in parts if p is not None)
    return zlib.crc32(s.encode("utf-8"))


# -- pgoutput frame encoder (protocol v1) -----------------------------------

def _cell(v) -> bytes:
    if v is None:
        return b"n"
    if v is TOAST:
        return b"u"
    b = str(v).encode("utf-8")
    return b"t" + struct.pack(">I", len(b)) + b


def _tuple(cells) -> bytes:
    return struct.pack(">H", len(cells)) + b"".join(_cell(c) for c in cells)


def frame_begin(final_lsn: int, ts_pg_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QQI", final_lsn, ts_pg_us, xid)


def frame_commit(lsn: int, ts_pg_us: int) -> bytes:
    return b"C" + struct.pack(">BQQQ", 0, lsn, lsn + 8, ts_pg_us)


def frame_relation(rel_id: int, name: str, cols, identity: str) -> bytes:
    body = struct.pack(">I", rel_id) + b"public\x00" + name.encode() + b"\x00"
    body += identity.encode() + struct.pack(">H", len(cols))
    for cname, pg_type, is_key in cols:
        body += struct.pack(">B", 1 if is_key else 0) + cname.encode() + b"\x00"
        body += struct.pack(">Ii", OID[pg_type], -1)
    return b"R" + body


def frame_insert(rel_id: int, new) -> bytes:
    return b"I" + struct.pack(">I", rel_id) + b"N" + _tuple(new)


def frame_update(rel_id: int, new, old=None) -> bytes:
    head = b"U" + struct.pack(">I", rel_id)
    if old is not None:
        head += b"O" + _tuple(old)
    return head + b"N" + _tuple(new)


def frame_delete(rel_id: int, old=None, key=None) -> bytes:
    head = b"D" + struct.pack(">I", rel_id)
    return head + (b"K" + _tuple(key) if key is not None else b"O" + _tuple(old))


def frame_truncate(rel_ids) -> bytes:
    return b"T" + struct.pack(">IB", len(rel_ids), 0) + struct.pack(
        f">{len(rel_ids)}I", *rel_ids
    )


# -- value generation -------------------------------------------------------

def _value(rng: random.Random, pg_type: str) -> str:
    if pg_type == "text":
        return f"{rng.choice(_WORDS)}-{rng.randrange(100_000)}"
    if pg_type == "int4":
        return str(rng.randrange(-1_000_000, 1_000_000))
    if pg_type == "int8":
        return str(rng.randrange(10**12))
    if pg_type == "numeric":
        return f"{rng.randrange(10**6)}.{rng.randrange(10**4):04d}"
    if pg_type == "timestamptz":
        return (f"2026-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
                f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
                f"{rng.randrange(60):02d}.{rng.randrange(10**6):06d}+00")
    if pg_type == "jsonb":
        return json.dumps({"k": rng.randrange(1000), "tag": rng.choice(_WORDS)})
    if pg_type == "_int4":
        return "{" + ",".join(str(rng.randrange(1000)) for _ in range(rng.randint(1, 4))) + "}"
    raise ValueError(pg_type)


def _txn_size(rng: random.Random, cap: int) -> int:
    """Heavy-tailed transaction size in [1, cap] (Pareto, alpha 1.2)."""
    return min(cap, int(rng.paretovariate(1.2)))


def _pick_op(rng: random.Random, n_live: int) -> str:
    """I/U/D at about 40/45/15, never touching a key that is not live."""
    r = rng.random()
    if n_live == 0 or r < 0.40:
        return "INSERT"
    return "UPDATE" if r < 0.85 else "DELETE"


# -- wal_stream: binary pgoutput frames, one file per interval ---------------

WAL_TABLES = [
    # rel_id, name, replica identity, columns (name, pg type, is key)
    (16401, "accounts", "d", [("id", "int8", True), ("name", "text", False),
                              ("balance", "numeric", False), ("updated_at", "timestamptz", False)]),
    (16402, "orders", "f", [("id", "int8", True), ("account_id", "int8", False),
                            ("amount", "numeric", False), ("tags", "_int4", False),
                            ("meta", "jsonb", False), ("created_at", "timestamptz", False)]),
    (16403, "events", "d", [("id", "int8", True), ("kind", "text", False),
                            ("payload", "jsonb", False), ("at", "timestamptz", False)]),
    (16404, "items", "d", [("id", "int8", True), ("sku", "text", False),
                           ("qty", "int4", False), ("note", "text", False)]),
]
# offered changes per second. A microbatch's cost is mostly fixed (Spark
# jobs): one trigger's 9k changes (~14k frames) decode and assemble in
# ~2.5 s on 4 cores, and in up to ~5 s when the host is slow; at 3000/s
# such stretches overran the 6 s trigger and built a backlog
WAL_RATE = 1500
_TOASTABLE = {"payload", "note"}


def gen_wal_stream(seed: int, n_files: int, rate: int = WAL_RATE) -> tuple[list[list[bytes]], dict]:
    """Frames of one WAL stream cut into ``n_files`` files plus its truth.

    File k holds whole transactions, ``rate * FILE_INTERVAL_S`` changes,
    created in [k, k+1) x FILE_INTERVAL_S after the run starts; each
    transaction's BEGIN/COMMIT timestamp is its creation offset from
    BASE (the runner maps it onto the clock). File 0 opens with the
    Relation messages, so a consumer must keep them across microbatches.

    Covers both decoder paths: INSERT / new-tuple-only UPDATE (inline
    fast path) and REPLICA IDENTITY FULL old tuples, key-only deletes,
    TRUNCATE and Relation messages (``decode_message`` fallback). One
    table is re-announced mid-stream with an added column; frames after
    it carry the wider tuple."""
    rng = random.Random(f"wal_stream:{seed}")
    tables = {rel_id: {"name": n, "ident": ident, "cols": list(cols), "live": {}, "next": 1}
              for rel_id, n, ident, cols in WAL_TABLES}
    rel_ids = list(tables)
    per_file = int(rate * FILE_INTERVAL_S)
    interval_us = int(FILE_INTERVAL_S * 1_000_000)
    resend_at, truncate_at = n_files // 2, (3 * n_files) // 4
    counts: dict[str, int] = {}
    change_sum = txn_sum = n_txns = 0
    lsn, xid = 0x1_6B00_0000, 5000
    files: list[list[bytes]] = []
    for k in range(n_files):
        frames = []
        if k == 0:
            frames += [frame_relation(r, t["name"], t["cols"], t["ident"]) for r, t in tables.items()]
        if k == resend_at:
            acc = tables[16401]
            acc["cols"] = acc["cols"] + [("tier", "text", False)]
            for row in acc["live"].values():
                row.append(_value(rng, "text"))
            frames.append(frame_relation(16401, acc["name"], acc["cols"], acc["ident"]))
        n = 0  # changes in this file so far
        while n < per_file:
            xid += 1
            lsn += 4096
            ts = BASE_TS_PG_US + k * interval_us + (n * interval_us) // per_file
            frames.append(frame_begin(lsn, ts, xid))
            changes: list[tuple[str, str, str]] = []  # (op, table, pk)
            if k == truncate_at and n == 0:
                frames.append(frame_truncate([16403, 16404]))
                for r in (16403, 16404):
                    tables[r]["live"].clear()
                    changes.append(("TRUNCATE", tables[r]["name"], ""))
            else:
                for _ in range(min(_txn_size(rng, 50), per_file - n)):
                    frame, change = _wal_change(rng, tables, rng.choice(rel_ids))
                    frames.append(frame)
                    changes.append(change)
            frames.append(frame_commit(lsn, ts))
            n += len(changes)
            for idx, (op, table, pk) in enumerate(changes):
                counts[f"{table}.{op}"] = counts.get(f"{table}.{op}", 0) + 1
                change_sum += crc(xid, idx, op, table, pk)
            txn_sum += crc(xid, len(changes), lsn, lsn, ts + PG_EPOCH_UNIX_US)
            n_txns += 1
        files.append(frames)
    truth = {
        "files": n_files,
        "per_file": per_file,
        "frames": sum(len(f) for f in files),
        "txns": n_txns,
        "changes": n_files * per_file,
        "base_us": BASE_TS_PG_US + PG_EPOCH_UNIX_US,
        "counts": dict(sorted(counts.items())),
        "change_checksum": change_sum,
        "txn_checksum": txn_sum,
    }
    return files, truth


def _wal_change(rng: random.Random, tables: dict, rel: int) -> tuple[bytes, tuple[str, str, str]]:
    """One INSERT / UPDATE / DELETE of relation ``rel``: its frame and
    the (op, table, pk) the assembled change must carry."""
    tab = tables[rel]
    live = tab["live"]
    op = _pick_op(rng, len(live))
    if op == "INSERT":
        key = tab["next"]
        tab["next"] += 1
        row = [str(key)] + [_value(rng, ty) for _, ty, _ in tab["cols"][1:]]
        live[key] = row
        return frame_insert(rel, row), (op, tab["name"], str(key))
    key = _sample_key(rng, live)
    old = live[key]
    if op == "UPDATE":
        new = list(old)
        for i in rng.sample(range(1, len(new)), k=min(2, len(new) - 1)):
            new[i] = _value(rng, tab["cols"][i][1])
        live[key] = new
        wire = [TOAST if c[0] in _TOASTABLE and rng.random() < 0.5 else v
                for c, v in zip(tab["cols"], new)]
        return (frame_update(rel, wire, old if tab["ident"] == "f" else None),
                (op, tab["name"], str(key)))
    del live[key]
    if tab["ident"] == "f":
        return frame_delete(rel, old=old), (op, tab["name"], str(key))
    # a key-only delete reaches the assembled change with neither record
    # nor old_record: pk is ''
    return frame_delete(rel, key=[old[0]] + [None] * (len(old) - 1)), (op, tab["name"], "")


def _sample_key(rng: random.Random, live: dict):
    """A uniformly random live key (dicts keep insertion order)."""
    return next(islice(iter(live), rng.randrange(len(live)), None))


def write_frame_files(files: list[list[bytes]], out_dir: str) -> None:
    """One parquet file of (frame_idx, payload) per element of ``files``;
    frame_idx runs on across files, in stream order."""
    os.makedirs(out_dir, exist_ok=True)
    lo = 0
    for k, frames in enumerate(files):
        table = pa.table({
            "frame_idx": pa.array(range(lo, lo + len(frames)), pa.int64()),
            "payload": pa.array(frames, pa.binary()),
        })
        pq.write_table(table, os.path.join(out_dir, f"f{k:05d}.parquet"))
        lo += len(frames)


# -- pre-decoded change envelopes ---------------------------------------------

ENVELOPE_ARROW_SCHEMA = pa.schema([
    ("op", pa.string()), ("schema", pa.string()), ("table", pa.string()),
    ("columns", pa.list_(pa.struct([("name", pa.string()), ("type", pa.string()),
                                    ("is_key", pa.bool_()), ("type_modifier", pa.int64())]))),
    ("record", pa.map_(pa.string(), pa.string())),
    ("old_record", pa.map_(pa.string(), pa.string())),
    ("key_record", pa.map_(pa.string(), pa.string())),
    ("commit_ts", pa.timestamp("us", tz="UTC")),
    ("lsn_hi", pa.int64()), ("lsn_lo", pa.int64()), ("xid", pa.int64()),
    ("change_idx", pa.int32()),
])


def write_envelope(rows: list[dict], path: str) -> None:
    """Envelope rows (record maps as dicts, commit_ts as unix µs) → one
    parquet file with the canonical envelope layout."""
    def m(d):
        return None if d is None else list(d.items())

    cols = {
        "op": [r["op"] for r in rows],
        "schema": ["public"] * len(rows),
        "table": [r["table"] for r in rows],
        "columns": [r["columns"] for r in rows],
        "record": [m(r["record"]) for r in rows],
        "old_record": [m(r["old_record"]) for r in rows],
        "key_record": [m(r["key_record"]) for r in rows],
        "commit_ts": [r["commit_ts_us"] for r in rows],
        "lsn_hi": [r["lsn"] >> 32 for r in rows],
        "lsn_lo": [r["lsn"] & 0xFFFFFFFF for r in rows],
        "xid": [r["xid"] for r in rows],
        "change_idx": [r["change_idx"] for r in rows],
    }
    pq.write_table(pa.table(cols, schema=ENVELOPE_ARROW_SCHEMA), path)


class _EnvelopeTables:
    """Live-key bookkeeping of the stream's tables. Every table is
    REPLICA IDENTITY FULL, so updates and deletes carry the old record."""

    def __init__(self, rng: random.Random, schemas: dict[str, list[tuple[str, str]]]):
        self.rng = rng
        self.schemas = schemas
        self.live: dict[str, dict[str, dict]] = {t: {} for t in schemas}
        self.col_meta = {
            t: [{"name": c, "type": ty, "is_key": c == "id", "type_modifier": -1}
                for c, ty in cols]
            for t, cols in schemas.items()
        }

    def change(self, table: str, key: str) -> dict:
        """One change of row ``key`` of ``table``: an INSERT when the key
        is not live, else an UPDATE or (15%) a DELETE."""
        rng, live = self.rng, self.live[table]
        op = "INSERT" if key not in live else ("DELETE" if rng.random() < 0.15 else "UPDATE")
        cols = self.schemas[table]
        row = {"op": op, "table": table, "columns": self.col_meta[table],
               "record": None, "old_record": None, "key_record": None}
        if op == "INSERT":
            rec = {"id": key}
            rec.update({c: _value(rng, ty) for c, ty in cols[1:]})
            live[key] = rec
            row["record"] = rec
        elif op == "UPDATE":
            old = live[key]
            new = dict(old)
            for c, ty in rng.sample(cols[1:], k=rng.randint(1, 3)):
                v = _value(rng, ty)
                while v == old[c]:
                    v = _value(rng, ty)
                new[c] = v
            live[key] = new
            row["record"] = new
            row["old_record"] = old
        else:
            row["old_record"] = live.pop(key)
        return row


# -- stream_merge: open-loop envelope files with Zipf-skewed keys -------------

STREAM_SCHEMAS = {
    "users": [("id", "int8"), ("name", "text"), ("score", "int4"),
              ("updated_at", "timestamptz"), ("bio", "text")],
    "sessions": [("id", "int8"), ("user_id", "int8"), ("device", "text"),
                 ("started_at", "timestamptz")],
}
STREAM_KEYS = 2000
# offered changes per second: half the highest rate a capacity probe ran,
# which the 6 s trigger still drained with room to spare (see README)
STREAM_RATE = 2800
STREAM_DUP_RATE = 0.05  # replayed copies within a file (at-least-once redelivery)
STREAM_CAST_TABLE = "users"
# processing-time trigger of the streaming queries. A microbatch takes
# 2.5-3.5 s on 4 cores and up to ~6 s when the shared host is slow; a 4 s
# trigger let a backlog build, and 6 s did at times. 8 s leaves headroom.
TRIGGER_S = 8.0
FILES_PER_TRIGGER = int(TRIGGER_S / FILE_INTERVAL_S)


WARMUP_FILES = 2  # picked up by the first trigger, which is excluded


def stream_files(seconds: float) -> tuple[int, int]:
    """(warm-up files, measured files) for a run of ``seconds``: a first
    trigger of WARMUP_FILES files (it pays the streaming query's one-time
    costs), then whole triggers covering ``seconds``."""
    return WARMUP_FILES, FILES_PER_TRIGGER * max(1, round(seconds / TRIGGER_S))


def gen_stream_merge(seed: int, n_files: int, rate: int = STREAM_RATE) -> tuple[list[list[dict]], dict]:
    """``n_files`` envelope files; file k holds the changes created in
    [k, k+1) × FILE_INTERVAL_S after the run starts. Each transaction's
    commit_ts is its creation offset from BASE (the runner maps it onto
    the wall clock), so inputs stay seed-deterministic."""
    rng = random.Random(f"stream_merge:{seed}")
    tabs = _EnvelopeTables(rng, STREAM_SCHEMAS)
    weights = [1.0 / (r ** 1.1) for r in range(1, STREAM_KEYS + 1)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    per_file = int(rate * FILE_INTERVAL_S)
    interval_us = int(FILE_INTERVAL_S * 1_000_000)
    base_us = BASE_TS_PG_US + PG_EPOCH_UNIX_US
    files, lsn, xid, cast_rows = [], 0x3_0000_0000, 20_000, 0
    for k in range(n_files):
        rows: list[dict] = []
        while len(rows) < per_file:
            lsn += 4096
            xid += 1
            stamp = base_us + k * interval_us + (len(rows) * interval_us) // per_file
            for idx in range(min(_txn_size(rng, 5), per_file - len(rows))):
                table = rng.choice(("users", "sessions"))
                key = str(bisect.bisect_left(cum, rng.random() * acc) + 1)
                row = tabs.change(table, key)
                row.update(lsn=lsn, xid=xid, change_idx=idx, commit_ts_us=stamp)
                rows.append(row)
                cast_rows += table == STREAM_CAST_TABLE and row["op"] != "DELETE"
        rows += [dict(r) for r in rng.sample(rows, k=int(per_file * STREAM_DUP_RATE))]
        files.append(rows)
    state = sorted(
        [t, k, sorted(rec.items())] for t, live in tabs.live.items() for k, rec in live.items()
    )
    truth = {
        "files": n_files,
        "per_file": per_file,  # distinct changes; the file also holds replays
        "cast_text_nonnull": cast_rows * len(STREAM_SCHEMAS[STREAM_CAST_TABLE]),
        "changes": n_files * per_file,
        "base_us": base_us,
        "state_rows": len(state),
        "state_digest": hashlib.sha256(json.dumps(state).encode()).hexdigest(),
    }
    return files, truth


def state_digest(rows) -> str:
    """Digest of a materialized state given as (table, record dict)
    pairs — comparable with truth['state_digest']."""
    state = sorted([t, rec["id"], sorted(rec.items())] for t, rec in rows)
    return hashlib.sha256(json.dumps(state).encode()).hexdigest()


# -- on-disk cache -------------------------------------------------------------

def materialize(workload: str, seed: int, root: str, seconds: float = 10.0) -> tuple[str, dict]:
    """Write (or reuse) the inputs of one workload; returns (dir, truth).
    The input files are under ``<dir>/files``, one per interval.

    A directory is reused only when its DONE marker exists, so an
    interrupted generation is redone rather than read half-written."""
    warm, measured = stream_files(seconds)
    if workload == "wal_stream":
        gen_fn, rate = gen_wal_stream, WAL_RATE
    elif workload == "stream_merge":
        gen_fn, rate = gen_stream_merge, STREAM_RATE
    else:
        raise ValueError(f"unknown workload {workload!r}")
    out = os.path.join(root, f"{workload}-s{seed}-f{warm + measured}-r{rate}")
    if os.path.exists(os.path.join(out, "DONE")):
        with open(os.path.join(out, "truth.json")) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    files, truth = gen_fn(seed, warm + measured)
    truth.update(warmup_files=warm, measured_files=measured)
    if workload == "wal_stream":
        write_frame_files(files, os.path.join(out, "files"))
    else:
        os.makedirs(os.path.join(out, "files"))
        for k, rows in enumerate(files):
            write_envelope(rows, os.path.join(out, "files", f"f{k:05d}.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    open(os.path.join(out, "DONE"), "w").close()
    return out, truth
