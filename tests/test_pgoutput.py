"""pgoutput binary decoder golden tests (tier-1 analog of
test/walex/decoder/decoder_test.exs:22-226: hand-built frames → exact
expected structures, covering NULL cells, unchanged-TOAST cells and
every replica-identity variant), plus the Spark decode pipeline
end-to-end."""

import random
import struct
from datetime import timedelta

import pytest

from walex_spark.model import UNCHANGED_TOAST
from walex_spark.sources.pgoutput import (
    decode_envelope,
    decode_message,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_truncate,
    encode_update,
)

PG_EPOCH_US_2024 = 757382400000000  # 2024-01-01 00:00:00 UTC in µs since 2000-01-01


def frame_begin(lsn=100, ts=PG_EPOCH_US_2024, xid=700) -> bytes:
    return encode_begin(lsn, ts, xid)


def frame_commit(lsn=100, ts=PG_EPOCH_US_2024) -> bytes:
    return encode_commit(lsn, ts)


def frame_relation(rel_id=1, name="user", cols=(("id", 23, True), ("name", 25, False))) -> bytes:
    return encode_relation(rel_id, name, list(cols))


def frame_insert(rel_id=1, cells=("1", "alice")) -> bytes:
    return encode_insert(rel_id, cells)


def frame_update(rel_id=1, new=("1", "bob"), old=None, key=None) -> bytes:
    return encode_update(rel_id, new, old, key)


def frame_delete(rel_id=1, old=None, key=None) -> bytes:
    return encode_delete(rel_id, old, key)


def frame_truncate(rel_ids=(1,), options=0) -> bytes:
    return encode_truncate(rel_ids, options)


# -- pure decode golden values -------------------------------------------


def test_decode_begin():
    m = decode_message(frame_begin(lsn=(2 << 32) | 123, xid=999))
    assert m["op"] == "BEGIN" and m["xid"] == 999
    assert m["final_lsn"] == (2 << 32) | 123
    assert m["commit_ts"].year == 2024 and m["commit_ts"].month == 1


def test_decode_commit():
    m = decode_message(frame_commit(lsn=456))
    assert m["op"] == "COMMIT" and m["commit_lsn"] == 456 and m["end_lsn"] == 464


def test_decode_relation_oids_and_keys():
    m = decode_message(
        frame_relation(rel_id=7, cols=(("id", 23, True), ("tags", 1009, False)))
    )
    assert m["op"] == "RELATION" and m["relation_id"] == 7
    assert m["replica_identity"] == "default"
    assert m["columns"][0] == {
        "name": "id", "type": "int4", "is_key": True, "type_modifier": -1,
    }
    assert m["columns"][1]["type"] == "_text"


def test_decode_insert_with_null_and_toast():
    m = decode_message(frame_insert(cells=("1", None)))
    assert m["op"] == "INSERT" and m["new"] == ["1", None]
    m2 = decode_message(frame_insert(cells=("1", UNCHANGED_TOAST)))
    assert m2["new"] == ["1", UNCHANGED_TOAST]


def test_decode_update_three_forms():
    n = decode_message(frame_update(new=("1", "b")))
    assert (n["old"], n["key"]) == (None, None)
    o = decode_message(frame_update(new=("1", "b"), old=("1", "a")))
    assert o["old"] == ["1", "a"] and o["key"] is None
    k = decode_message(frame_update(new=("1", "b"), key=("1", None)))
    assert k["key"] == ["1", None] and k["old"] is None


def test_decode_delete_two_forms():
    k = decode_message(frame_delete(key=("5", None)))
    assert k["op"] == "DELETE" and k["key"] == ["5", None] and k["old"] is None
    o = decode_message(frame_delete(old=("5", "eve")))
    assert o["old"] == ["5", "eve"] and o["key"] is None


def test_decode_truncate_and_unsupported():
    t = decode_message(frame_truncate(rel_ids=(1, 2), options=1))
    assert t["op"] == "TRUNCATE" and t["relation_ids"] == [1, 2] and t["options"] == 1
    assert decode_message(b"Zxx")["op"] == "UNSUPPORTED"


def test_decode_utf8_and_quotes():
    m = decode_message(frame_insert(cells=('{"k": "véλ"}', "x,y\\z")))
    assert m["new"] == ['{"k": "véλ"}', "x,y\\z"]


# -- Spark decode pipeline ---------------------------------------------


@pytest.fixture()
def frames(spark):
    payloads = [
        frame_relation(rel_id=1, name="user"),
        frame_relation(rel_id=2, name="todo", cols=(("id", 23, True), ("done", 16, False))),
        # txn 700: insert + update(with old) + commit
        frame_begin(lsn=1000, xid=700),
        frame_insert(rel_id=1, cells=("1", "alice")),
        frame_update(rel_id=1, new=("1", "bob"), old=("1", "alice")),
        frame_commit(lsn=1000),
        # txn 701: delete by key + truncate of both tables + commit
        frame_begin(lsn=2000, xid=701),
        frame_delete(rel_id=2, key=("9", None)),
        frame_truncate(rel_ids=(1, 2)),
        frame_commit(lsn=2000),
        # txn 702: change for an UNKNOWN relation (dropped) then commit
        frame_begin(lsn=3000, xid=702),
        frame_insert(rel_id=99, cells=("x",)),
        frame_commit(lsn=3000),
        # txn 704: two todo inserts; txn 705: key-only delete of one
        frame_begin(lsn=3500, xid=704),
        frame_insert(rel_id=2, cells=("9", "t")),
        frame_insert(rel_id=2, cells=("8", "f")),
        frame_commit(lsn=3500),
        frame_begin(lsn=3600, xid=705),
        frame_delete(rel_id=2, key=("9", None)),
        frame_commit(lsn=3600),
        # txn 706: key-changing update of todo 8 -> 7 ('K' tuple)
        frame_begin(lsn=3700, xid=706),
        frame_update(rel_id=2, new=("7", "f"), key=("8", None)),
        frame_commit(lsn=3700),
        # txn 703: never commits → dropped entirely
        frame_begin(lsn=4000, xid=703),
        frame_insert(rel_id=1, cells=("2", "carol")),
    ]
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "frame_idx long, payload binary"
    )


def test_decode_envelope_end_to_end(spark, frames):
    env = decode_envelope(frames).orderBy("lsn_lo", "change_idx")
    rows = env.collect()
    by_xid = {}
    for r in rows:
        by_xid.setdefault(r.xid, []).append(r)
    # txn 700: two ordered changes, typed column metadata, record maps
    ops = [(r.op, r.change_idx) for r in by_xid[700]]
    assert ops == [("INSERT", 0), ("UPDATE", 1)]
    ins, upd = by_xid[700]
    assert ins.record == {"id": "1", "name": "alice"}
    assert upd.old_record == {"id": "1", "name": "alice"}
    assert upd.record == {"id": "1", "name": "bob"}
    assert ins.columns[0].type == "int4" and ins.columns[0].is_key
    assert ins.lsn_lo == 1000 and ins.commit_ts.year == 2024
    # txn 701: delete (key form) + one TRUNCATE row per relation
    assert [(r.op, r.table) for r in by_xid[701]] == [
        ("DELETE", "todo"), ("TRUNCATE", "user"), ("TRUNCATE", "todo"),
    ]
    assert by_xid[701][0].key_record == {"id": "9", "done": None}
    # txn 705: the key-only delete carries its tuple in key_record alone
    (dele,) = by_xid[705]
    assert (dele.record, dele.old_record) == (None, None)
    assert dele.key_record == {"id": "9", "done": None}
    # txn 702's unknown-relation change dropped; 703 never committed
    assert 702 not in by_xid and 703 not in by_xid


def test_decode_envelope_feeds_transforms(spark, frames):
    from walex_spark.operators import transforms as X

    env = decode_envelope(frames)
    ev = X.filter_and_cast(env, table="user", record_types=["update"])
    row = ev.collect()[0]
    assert {k: v.asDict() for k, v in row.changes.items()} == {
        "name": {"old_value": "alice", "new_value": "bob"}
    }
    assert row.lsn == "0/3E8"


def test_key_only_delete_reaches_state_history_and_handlers(spark, frames, tmp_path):
    """A key-only DELETE (REPLICA IDENTITY DEFAULT) that follows its
    INSERT removes the key from the table state, closes its history
    interval and reaches a handler filtered on unwatched records, all
    through transforms.row_image. A key-changing UPDATE whose old key
    sits in key_record does the same for its old key
    (transforms.split_key_changes)."""
    from pyspark.sql import functions as F

    from walex_spark.operators import transforms as X
    from walex_spark.operators.scd import scd2_history
    from walex_spark.streaming.materialize import ParquetStateSink

    env = decode_envelope(frames)
    live = {("todo", "7")}
    state = X.materialize_table_state(env, ["id"]).collect()
    assert {(r.table, r.record["id"]) for r in state} == live
    sink = ParquetStateSink(str(tmp_path / "state"), ["id"], num_buckets=2)
    sink.process_batch(env, 0)
    assert {(r.table, r.record["id"]) for r in sink.state(spark).collect()} == live

    deletes = X.filter_and_cast(
        env, table="todo", record_types=["delete"], unwatched_records={"done": "t"}
    ).collect()
    assert [r.old_record for r in deletes] == [{"id": "9", "done": None}] * 2

    todo = env.filter((F.col("table") == "todo") & (F.col("op") != "TRUNCATE"))
    by_id = {r.record["id"]: r for r in scd2_history(todo, ["id"]).collect()}
    assert by_id["9"].closed_by_delete and not by_id["9"].is_current
    assert by_id["8"].closed_by_delete and not by_id["8"].is_current
    assert by_id["7"].is_current


def _random_stream(seed: int) -> tuple[list[tuple[int, bytes]], tuple[int, int]]:
    """A seeded pgoutput stream with every stamping edge: changes
    before the first BEGIN, one long transaction (it spans several
    range partitions), BEGINs while a transaction is open, changes
    outside any transaction, TRUNCATE fan-out over a known, an unknown
    and a known relation, changes of an unknown relation, LSNs past
    2^32, sparse frame_idx and an unterminated tail. Also returns the
    long transaction's first and last frame_idx."""
    rng = random.Random(seed)
    todo = (("id", 23, True), ("done", 16, False))

    def change(rel_id):
        cells = (str(rng.randrange(100)), rng.choice(("a", None, UNCHANGED_TOAST)))
        return rng.choice((
            lambda: encode_insert(rel_id, cells),
            lambda: encode_update(rel_id, cells),
            lambda: encode_update(rel_id, cells, old=cells),
            lambda: encode_update(rel_id, cells, key=(cells[0], None)),
            lambda: encode_delete(rel_id, key=(cells[0], None)),
            lambda: encode_delete(rel_id, old=cells),
        ))()

    def changes(k):
        return [
            encode_truncate((1, 99, 2)) if rng.random() < 0.1
            else change(rng.choice((1, 2, 2, 99)))
            for _ in range(k)
        ]

    payloads = [frame_relation(1, "user"), frame_relation(2, "todo", todo)]
    payloads += changes(rng.randint(1, 3))  # before the first BEGIN
    long_txn = rng.randrange(6)
    for t in range(8):
        lsn = ((t + 1) << 33) | rng.randrange(1 << 32)
        ts = PG_EPOCH_US_2024 + t * 1_000_000
        if t == long_txn:
            long_at = len(payloads)
        payloads.append(encode_begin(lsn, ts, 900 + t))
        payloads += changes(40 if t == long_txn else rng.randint(0, 5))
        if t == long_txn or rng.random() < 0.75:  # else the next BEGIN discards it
            payloads.append(encode_commit(lsn, ts))
            if rng.random() < 0.3:
                payloads += changes(1)  # outside any transaction
    payloads.append(encode_begin(1 << 40, PG_EPOCH_US_2024, 999))
    payloads += changes(3)  # unterminated tail
    idx = 0
    stream = []
    for p in payloads:
        idx += rng.randint(1, 4)
        stream.append((idx, p))
    return stream, (stream[long_at][0], stream[long_at + 41][0])


def _sequential_stamp(stream) -> list[tuple]:
    """The reference's transaction loop (publisher.ex:57-77) over
    decode_message, one frame at a time."""
    from datetime import datetime

    relations, out, txn, held = {}, [], None, []
    for _, buf in stream:
        m = decode_message(buf)
        if m["op"] == "RELATION":
            relations[m["relation_id"]] = m
        elif m["op"] in ("BEGIN", "COMMIT"):
            if m["op"] == "COMMIT" and txn is not None:
                out += held
            txn = m if m["op"] == "BEGIN" else None
            held = []
        elif txn is not None:
            ids = m["relation_ids"] if m["op"] == "TRUNCATE" else [m["relation_id"]]
            for rid in ids:
                rel = relations.get(rid)
                if rel is None:
                    continue
                names = [c["name"] for c in rel["columns"]]

                def rec(cells):
                    return None if cells is None else tuple(sorted(zip(names, cells)))

                held.append((
                    m["op"], rel["name"], txn["xid"], txn["final_lsn"],
                    (txn["commit_ts"] - datetime(1970, 1, 1)) // timedelta(microseconds=1),
                    len(held), rec(m.get("new")), rec(m.get("old")), rec(m.get("key")),
                ))
    return out


def _stamped(env):
    """decode_envelope's rows as _sequential_stamp's tuples, sorted."""
    from pyspark.sql import functions as F

    def rec(c):
        return F.when(F.col(c).isNotNull(), F.array_sort(F.map_entries(c)))

    got = env.select(
        "op", "table", "xid",
        (F.col("lsn_hi") * (1 << 32) + F.col("lsn_lo")).alias("lsn"),
        F.unix_micros("commit_ts").alias("ts"), "change_idx",
        rec("record"), rec("old_record"), rec("key_record"),
    ).collect()
    return sorted(
        (tuple(tuple(map(tuple, v)) if isinstance(v, list) else v for v in r) for r in got),
        key=repr,
    )


def test_decode_envelope_partitioning_equivalence(spark, tmp_path):
    """The ordered pass stamps exactly like a sequential walk, however
    the frames arrive partitioned and however the runs cut the
    transactions, decoded with 3-row Arrow batches so that held
    transactions cross batches as well as runs.

    - Stored as runs: each seeded stream is written as 10 parquet files
      of contiguous frame_idx ranges, cut without regard to transaction
      boundaries, and read as 3 input partitions that each hold several
      non-adjacent files. decode_frames walks each file as one run, no
      exchange, and stamp_transactions accepts the runs as they are.
    - Shuffled into 1, 2, 3 and 8 input partitions: one partition is
      one run and decodes; more partitions overlap, and the decode
      raises, naming the fix. Range-partitioned on frame_idx into as
      many partitions (the fix), each partition is one run and the
      decode is exact."""
    from functools import reduce

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from walex_spark.sources.pgoutput import (
        _END,
        collect_registry,
        decode_frames,
        stamp_transactions,
    )

    n_files, n_scans = 10, 3
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "3",
            "spark.sql.files.minPartitionNum": "1"}  # one partition per scan below
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        for seed in range(2):
            stream, (lo, hi) = _random_stream(seed)
            expected = sorted(_sequential_stamp(stream), key=repr)

            cut = [len(stream) * k // n_files for k in range(n_files + 1)]
            paths = []
            for k in range(n_files):
                chunk = stream[cut[k]:cut[k + 1]]
                paths.append(str(tmp_path / f"s{seed}-{k:02d}.parquet"))
                pq.write_table(pa.table({
                    "frame_idx": pa.array([i for i, _ in chunk], pa.int64()),
                    "payload": pa.array([p for _, p in chunk], pa.binary()),
                }), paths[-1])
            scans = [
                spark.read.schema("frame_idx long, payload binary").parquet(*paths[p::n_scans])
                for p in range(n_scans)
            ]
            frames = reduce(DataFrame.unionByName, scans)
            assert frames.rdd.getNumPartitions() == n_scans
            decoded = decode_frames(frames, collect_registry(frames))
            assert _stamped(stamp_transactions(decoded)) == expected, f"seed {seed}, files"
            ends = decoded.filter(F.col("kind") == _END).select("run", "frame_idx").collect()
            assert sorted((e.run, e.frame_idx) for e in ends) == [
                (stream[cut[k]][0], stream[cut[k + 1] - 1][0]) for k in range(n_files)
            ]
            # the long transaction really crosses 3+ files
            spans = decoded.filter(F.col("frame_idx").between(lo, hi)).select("run").distinct()
            assert spans.count() >= 3

            shuffled = stream[:]
            random.Random(seed).shuffle(shuffled)
            for parts in (1, 2, 3, 8):
                frames = spark.createDataFrame(
                    shuffled, "frame_idx long, payload binary"
                ).repartition(parts)
                if parts > 1:
                    with pytest.raises(ValueError, match="runs overlap.*repartitionByRange"):
                        decode_envelope(frames)
                else:
                    got = _stamped(decode_envelope(frames))
                    assert got == expected, f"seed {seed}, 1 input partition"
                got = _stamped(decode_envelope(frames.repartitionByRange(parts, "frame_idx")))
                assert got == expected, f"seed {seed}, {parts} range partitions"
            # behind the range exchange, too, the long transaction crosses 3+ runs
            n = spark.sparkContext.defaultParallelism
            ranged = decode_frames(frames.repartitionByRange(n, "frame_idx"),
                                   collect_registry(frames))
            spans = ranged.filter(F.col("frame_idx").between(lo, hi)).select("run").distinct()
            assert spans.count() >= min(3, n)
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_decode_frames_joined_from_two_file_sources(spark, frames, tmp_path):
    """Frames selected by a join with a second file source decode as
    the same frames do alone: input_file_name() refuses a plan over two
    file sources, so the walk takes each input partition as one run."""
    frames.write.parquet(str(tmp_path / "frames"))
    spark.range(100).withColumnRenamed("id", "frame_idx").write.parquet(str(tmp_path / "keep"))
    joined = spark.read.parquet(str(tmp_path / "frames")).join(
        spark.read.parquet(str(tmp_path / "keep")), "frame_idx"
    )
    assert _stamped(decode_envelope(joined)) == _stamped(decode_envelope(frames))


def test_decode_frames_file_split_across_partitions(spark, tmp_path):
    """One frame file that Spark splits by row group into several input
    partitions decodes like the sequential walk: each split is an
    ordered stretch of the file, so each non-empty partition is one run
    and the runs are disjoint."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from walex_spark.sources.pgoutput import (
        _END,
        collect_registry,
        decode_frames,
        stamp_transactions,
    )

    stream, _ = _random_stream(0)
    path = str(tmp_path / "frames.parquet")
    pq.write_table(pa.table({
        "frame_idx": pa.array([i for i, _ in stream], pa.int64()),
        "payload": pa.array([p for _, p in stream], pa.binary()),
    }), path, row_group_size=-(-len(stream) // 6))
    assert pq.ParquetFile(path).num_row_groups == 6
    conf = {"spark.sql.files.maxPartitionBytes": str(os.path.getsize(path) // 5),
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.files.minPartitionNum": "1"}
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        frames = spark.read.schema("frame_idx long, payload binary").parquet(path)
        assert frames.rdd.getNumPartitions() == 6
        filled = frames.select(F.spark_partition_id()).distinct().count()
        decoded = decode_frames(frames, collect_registry(frames))
        assert decoded.filter(F.col("kind") == _END).count() == filled > 1
        assert _stamped(stamp_transactions(decoded)) == sorted(_sequential_stamp(stream), key=repr)
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_duplicate_frame_fails_loud(spark, tmp_path):
    """A frame that arrives twice in one decode must fail it, whether
    the copy lands in the same run or in another; decoding it would emit
    the change twice, at two change_idx values, and dedup_replay's
    (lsn, change_idx) key would keep both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payloads = [
        frame_relation(rel_id=1, name="user"),
        frame_begin(lsn=1000, xid=7),
        frame_insert(rel_id=1, cells=("1", "alice")),
        frame_commit(lsn=1000),
    ]
    schema = "frame_idx long, payload binary"
    twice = spark.createDataFrame(list(enumerate(payloads)) * 2, schema).coalesce(1)
    with pytest.raises(Exception, match="frame_idx 0 arrives twice"):
        decode_envelope(twice)

    copies = [str(tmp_path / f"copy{k}.parquet") for k in range(2)]
    for path in copies:
        pq.write_table(pa.table({
            "frame_idx": pa.array(range(len(payloads)), pa.int64()),
            "payload": pa.array(payloads, pa.binary()),
        }), path)
    with pytest.raises(ValueError, match="runs overlap"):
        decode_envelope(spark.read.schema(schema).parquet(*copies))


def test_arity_mismatch_fails_loud(spark):
    """A data tuple whose arity disagrees with the registry (mid-stream
    schema change) must fail the decode, not silently NULL the record."""
    from walex_spark.sources.pgoutput import decode_envelope

    payloads = [
        frame_relation(rel_id=1, name="user"),  # 2 columns
        frame_begin(lsn=1000, xid=700),
        frame_insert(rel_id=1, cells=("1", "alice", "extra")),  # 3 cells
        frame_commit(lsn=1000),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "frame_idx long, payload binary"
    )
    with pytest.raises(Exception, match="arity"):
        decode_envelope(df).collect()


def test_mid_stream_schema_change_versioned_registry(spark):
    """A Relation re-sent mid-stream applies only to LATER frames:
    earlier frames decode against the schema current at their position,
    and a data frame arriving before any Relation announcement is
    skipped (not decoded against a future schema)."""
    from walex_spark.sources.pgoutput import decode_envelope

    payloads = [
        # frame 0: insert BEFORE any Relation frame → must be skipped
        frame_begin(lsn=500, xid=699),
        frame_insert(rel_id=1, cells=("0", "zed")),
        frame_commit(lsn=500),
        frame_relation(rel_id=1, name="user",
                       cols=(("id", 23, True), ("name", 25, False))),
        frame_begin(lsn=1000, xid=700),
        frame_insert(rel_id=1, cells=("1", "alice")),
        frame_commit(lsn=1000),
        # schema change: second column renamed name → nickname
        frame_relation(rel_id=1, name="user",
                       cols=(("id", 23, True), ("nickname", 25, False))),
        frame_begin(lsn=2000, xid=701),
        frame_insert(rel_id=1, cells=("2", "bob")),
        frame_commit(lsn=2000),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "frame_idx long, payload binary"
    )
    rows = {r.xid: r for r in decode_envelope(df).collect()}
    assert 699 not in rows  # pre-announcement frame skipped
    assert rows[700].record == {"id": "1", "name": "alice"}
    assert rows[701].record == {"id": "2", "nickname": "bob"}
