"""Streaming layer tests: transaction assembly, foreachBatch dispatch
engine, JDBC polling cursor semantics.

Uses file-drop envelope streams + memory sinks so a batch of rows
drives each streaming query to completion synchronously (no Kafka in
the container)."""

import datetime as dt
import json

import pytest

from walex_spark.model import CHANGE_ENVELOPE_SCHEMA
from walex_spark.sources.envelope import read_envelope_stream
from walex_spark.sources.jdbc import JdbcPollingSource
from walex_spark.streaming.engine import WalExEngine
from walex_spark.streaming.txn_assembly import assemble_transactions

TS = dt.datetime(2024, 1, 15, 10, 30)


def _env_rows():
    # stamped changes: txn 700 has two, txn 701 one
    return [
        ("INSERT", "public", "user", None, {"id": "1"}, None, None, TS, 0, 100, 700, 0),
        ("UPDATE", "public", "todo", None, {"id": "t1"}, {"id": "t1"}, None, TS, 0, 101, 700, 1),
        ("INSERT", "public", "user", None, {"id": "2"}, None, None, TS, 0, 200, 701, 0),
    ]


@pytest.fixture()
def env_df(spark):
    return spark.createDataFrame(_env_rows(), CHANGE_ENVELOPE_SCHEMA)


def test_assemble_transactions_batch(spark, env_df):
    txns = assemble_transactions(env_df)
    rows = {r.xid: r for r in txns.collect()}
    assert rows[700].n_changes == 2
    assert rows[700].first_lsn == 100 and rows[700].last_lsn == 101
    assert rows[700].tables == ["user", "todo"]
    # WAL order preserved within the txn
    assert [c.op for c in rows[700].changes] == ["INSERT", "UPDATE"]
    assert rows[701].n_changes == 1


def test_engine_dispatch_batch(spark, env_df):
    seen = {}

    def make_handler(key):
        def h(df, epoch):
            seen[key] = df.count()

        return h

    eng = (
        WalExEngine(subscriptions=["user", "todo"], db="testdb")
        .on_insert("user", make_handler("user_inserts"))
        .on_event("*", make_handler("all"))
        .on_update("todo", make_handler("todo_updates"))
        .on_delete("user", make_handler("user_deletes"))
    )
    eng.process_batch(env_df)
    assert seen == {"user_inserts": 2, "all": 3, "todo_updates": 1, "user_deletes": 0}


def test_engine_streaming_attach_and_replay_dedup(spark, env_df, tmp_path):
    src = str(tmp_path / "env2")
    # duplicate delivery: same envelope rows twice in one drop (replay)
    env_df.unionByName(env_df).write.parquet(src)
    counts = []
    eng = WalExEngine().on_event("*", lambda df, epoch: counts.append(df.count()))
    stream = read_envelope_stream(spark, src, max_files_per_trigger=10)
    q = eng.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        # a later file re-delivers one change of the first drop (a
        # slot restart re-sends from the last confirmed LSN), next to a
        # new change past the 4 GiB WAL boundary: lsn_hi 1, a small lsn_lo
        past_4gib = spark.createDataFrame(
            [("INSERT", "public", "user", None, {"id": "3"}, None, None, TS, 1, 5, 702, 0)],
            CHANGE_ENVELOPE_SCHEMA,
        )
        env_df.limit(1).unionByName(past_4gib).coalesce(1).write.parquet(src, mode="append")
        q.processAllAvailable()
    finally:
        q.stop()
    # R12: duplicates collapsed on (lsn, change_idx) before dispatch,
    # within a microbatch and across microbatches; the change past
    # 4 GiB is dispatched once
    assert sum(counts) == 4


def test_jdbc_polling_cursor(tmp_path):
    ckpt = str(tmp_path / "cursor.json")
    src = JdbcPollingSource(
        url="jdbc:postgresql://example.invalid/db",
        table="events",
        cursor_col="lsn",
        checkpoint_path=ckpt,
    )
    assert src.predicate() is None
    assert "WHERE" not in src.dbtable_subquery()
    src.commit(41_000)
    assert src.predicate() == "lsn > 41000"
    assert "(SELECT * FROM events WHERE lsn > 41000) AS walex_poll" == src.dbtable_subquery()
    # durable slot: cursor survives "restart"
    resumed = JdbcPollingSource(
        url="jdbc:postgresql://example.invalid/db",
        table="events",
        cursor_col="lsn",
        checkpoint_path=ckpt,
    )
    assert resumed.cursor == 41_000
    assert json.load(open(ckpt))["cursor"] == 41_000


def test_jdbc_commit_rejects_non_int_cursor(tmp_path):
    """The cursor is rendered into the pushed-down SQL, so only an int
    is valid; a rejected commit changes nothing: not the cursor, the
    checkpoint file or the directory. A checkpoint holding another
    value does not resume."""
    ckpt = tmp_path / "c.json"
    src = JdbcPollingSource(
        url="jdbc:x", table="t", cursor_col="updated_at", checkpoint_path=str(ckpt)
    )
    src.commit(7)
    listing = sorted(p.name for p in tmp_path.iterdir())
    for bad in (TS, "o'brien", True, 7.5):
        with pytest.raises(TypeError):
            src.commit(bad)
        assert src.cursor == 7
        assert src.predicate() == "updated_at > 7"
        assert json.loads(ckpt.read_text()) == {"cursor": 7}
        assert sorted(p.name for p in tmp_path.iterdir()) == listing
    ckpt.write_text(json.dumps({"cursor": "o'brien"}))
    with pytest.raises(TypeError):
        JdbcPollingSource(url="jdbc:x", table="t", cursor_col="c", checkpoint_path=str(ckpt))


def test_jdbc_advance_from(spark, tmp_path):
    src = JdbcPollingSource(
        url="jdbc:x", table="t", cursor_col="lsn",
        checkpoint_path=str(tmp_path / "c.json"),
    )
    df = spark.createDataFrame([(5,), (9,), (3,)], "lsn int")
    src.advance_from(df)
    assert src.cursor == 9


def test_jdbc_slot_single_writer(tmp_path):
    """Reference enforces exclusive slot consumption (server.ex:17):
    a second poller on the same cursor checkpoint must refuse to start."""
    from walex_spark.sources.jdbc import SlotInUseError

    ckpt = str(tmp_path / "cursor.json")
    a = JdbcPollingSource(url="jdbc:x", table="t", cursor_col="lsn", checkpoint_path=ckpt)
    b = JdbcPollingSource(url="jdbc:x", table="t", cursor_col="lsn", checkpoint_path=ckpt)
    a.acquire_lock()
    try:
        with pytest.raises(SlotInUseError):
            b.acquire_lock()
    finally:
        a.release_lock()
    # released: second poller may now claim it
    b.acquire_lock()
    b.release_lock()


def test_jdbc_stale_lock_takeover(tmp_path):
    """A lock whose owner pid is dead (or heartbeat expired) is
    abandoned and taken over — the reference's reconnect-retry path."""
    import json as _json

    ckpt = str(tmp_path / "cursor.json")
    src = JdbcPollingSource(url="jdbc:x", table="t", cursor_col="lsn", checkpoint_path=ckpt)
    # fake a dead owner: max pid + ancient heartbeat
    with open(ckpt + ".lock", "w") as f:
        _json.dump({"pid": 2**22 + 1, "ts": 0}, f)
    src.acquire_lock()  # must not raise
    src.release_lock()


def test_jdbc_probe_and_bounds():
    src = JdbcPollingSource(url="jdbc:x", table="events", cursor_col="lsn")
    assert src.probe_max_sql() == (
        "(SELECT max(lsn) AS max_cursor FROM events) AS walex_probe"
    )


def test_parquet_state_sink_merge(spark, tmp_path):
    from walex_spark.streaming.materialize import ParquetStateSink

    sink = ParquetStateSink(str(tmp_path / "state"), ["id"], num_buckets=4)
    b1 = [
        ("INSERT", "public", "user", None, {"id": "1", "age": "30"}, None, None, TS, 0, 10, 1, 0),
        ("INSERT", "public", "user", None, {"id": "2", "age": "40"}, None, None, TS, 0, 20, 2, 0),
        ("INSERT", "public", "user", None, {"id": "7", "age": "70"}, None, None, TS, 0, 25, 6, 0),
    ]
    b2 = [
        ("UPDATE", "public", "user", None, {"id": "1", "age": "31"},
         {"id": "1", "age": "30"}, None, TS, 0, 30, 3, 0),
        ("DELETE", "public", "user", None, None, {"id": "2", "age": "40"}, None, TS, 0, 40, 4, 0),
        # key change 7 -> 8 ('K' tuple): 7's bucket holds no other
        # changed key and must still be rewritten
        ("UPDATE", "public", "user", None, {"id": "8", "age": "70"},
         None, {"id": "7"}, TS, 0, 45, 7, 0),
        ("INSERT", "public", "user", None, {"id": "3", "age": "50"}, None, None, TS, 0, 50, 5, 0),
    ]
    sink.process_batch(spark.createDataFrame(b1, CHANGE_ENVELOPE_SCHEMA), 0)
    got = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    assert got == {"1": "30", "2": "40", "7": "70"}
    sink.process_batch(spark.createDataFrame(b2, CHANGE_ENVELOPE_SCHEMA), 1)
    got = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    # 2 deleted, 1 updated, 7 re-keyed to 8, 3 inserted
    assert got == {"1": "31", "8": "70", "3": "50"}
    # replaying the same batch is idempotent (checkpoint-replay contract)
    sink.process_batch(spark.createDataFrame(b2, CHANGE_ENVELOPE_SCHEMA), 1)
    got2 = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    assert got2 == got
    # a later batch re-delivers b1's INSERT of 2, which b2 deleted: the
    # applied mark skips it and 2 stays deleted
    sink.process_batch(spark.createDataFrame(b1[1:2], CHANGE_ENVELOPE_SCHEMA), 2)
    got3 = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    assert got3 == got
    # across the 4 GiB WAL boundary: (lsn_hi 1, lsn_lo 5) comes after
    # (0, 4_100_000_000), so the applied mark must not skip it
    near_4gib = [("INSERT", "public", "user", None, {"id": "9", "age": "90"},
                  None, None, TS, 0, 4_100_000_000, 8, 0)]
    past_4gib = [("UPDATE", "public", "user", None, {"id": "9", "age": "91"},
                  {"id": "9", "age": "90"}, None, TS, 1, 5, 9, 0)]
    sink.process_batch(spark.createDataFrame(near_4gib, CHANGE_ENVELOPE_SCHEMA), 3)
    sink.process_batch(spark.createDataFrame(past_4gib, CHANGE_ENVELOPE_SCHEMA), 4)
    got4 = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    assert got4 == {**got, "9": "91"}


def test_parquet_state_sink_empty_state_is_local(spark, tmp_path):
    """A fresh sink's state is an empty LocalRelation of the envelope
    schema: reading it starts no Python tasks."""
    from walex_spark.streaming.materialize import ParquetStateSink

    state = ParquetStateSink(str(tmp_path / "state"), ["id"]).state(spark)
    plan = state._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert state.schema == CHANGE_ENVELOPE_SCHEMA
    assert state.count() == 0


def test_parquet_state_sink_truncate_wipes_all_buckets(spark, tmp_path):
    """A TRUNCATE in a batch must wipe pre-truncate rows of that table
    from EVERY bucket, not just buckets the batch's keys hash into."""
    from walex_spark.streaming.materialize import ParquetStateSink

    sink = ParquetStateSink(str(tmp_path / "state"), ["id"], num_buckets=4)
    b1 = [
        ("INSERT", "public", "user", None, {"id": str(i), "age": "30"},
         None, None, TS, 0, 10 + i, i, 0)
        for i in range(8)  # spread across all 4 buckets
    ] + [
        ("INSERT", "public", "todo", None, {"id": "t1"}, None, None, TS, 0, 5, 99, 0),
    ]
    sink.process_batch(spark.createDataFrame(b1, CHANGE_ENVELOPE_SCHEMA), 0)
    assert len(sink.state(spark).collect()) == 9
    b2 = [
        ("TRUNCATE", "public", "user", None, None, None, None, TS, 0, 100, 100, 0),
        ("INSERT", "public", "user", None, {"id": "new", "age": "1"},
         None, None, TS, 0, 110, 101, 0),
    ]
    sink.process_batch(spark.createDataFrame(b2, CHANGE_ENVELOPE_SCHEMA), 1)
    got = {(r.table, r.record["id"]) for r in sink.state(spark).collect()}
    assert got == {("user", "new"), ("todo", "t1")}


def test_parquet_state_sink_jobs_per_batch(spark, tmp_path):
    """A TRUNCATE-free batch costs the sink 4 Spark jobs (pre-pass and
    merge, two each under AQE): the TRUNCATE wipe is pruned from its
    plan. A batch with a TRUNCATE still plans and applies the wipe."""
    from walex_spark.streaming.materialize import ParquetStateSink

    sc = spark.sparkContext
    sink = ParquetStateSink(str(tmp_path / "state"), ["id"], num_buckets=4)

    def jobs(rows, epoch):
        group = f"sink-jobs-{epoch}"
        sc.setJobGroup(group, "sink job count")
        try:
            sink.process_batch(spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA), epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    b1 = [
        ("INSERT", "public", "user", None, {"id": str(i)}, None, None, TS, 0, 10 + i, i, 0)
        for i in range(8)
    ]
    b2 = [
        ("TRUNCATE", "public", "user", None, None, None, None, TS, 0, 100, 100, 0),
        ("INSERT", "public", "user", None, {"id": "new"}, None, None, TS, 0, 110, 101, 0),
    ]
    assert jobs(b1, 0) == 4
    assert len(sink.state(spark).collect()) == 8
    # the wipe's aggregate and broadcast join are back in the plan
    assert jobs(b2, 1) > 4
    assert [r.record["id"] for r in sink.state(spark).collect()] == ["new"]


def test_parquet_state_sink_crash_mid_publish(spark, tmp_path):
    """Kill-mid-swap recovery (the reference's fault-injection tier,
    database_test.exs:80-106 analog): a crash after the new version is
    written but before the manifest flips must leave the PREVIOUS
    single-epoch snapshot fully readable; replaying the batch after
    restart converges to the correct state and GCs the orphan."""
    from walex_spark.streaming.materialize import ParquetStateSink

    sink = ParquetStateSink(str(tmp_path / "state"), ["id"], num_buckets=4)
    b1 = [
        ("INSERT", "public", "user", None, {"id": str(i), "age": "30"},
         None, None, TS, 0, 10 + i, i, 0)
        for i in range(8)
    ]
    b2 = [
        ("UPDATE", "public", "user", None, {"id": "3", "age": "99"},
         {"id": "3", "age": "30"}, None, TS, 0, 100, 50, 0),
        ("DELETE", "public", "user", None, None, {"id": "5", "age": "30"},
         None, TS, 0, 110, 51, 0),
    ]
    sink.process_batch(spark.createDataFrame(b1, CHANGE_ENVELOPE_SCHEMA), 0)
    before = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}

    real_publish = sink._publish
    def crash(*a, **kw):
        raise RuntimeError("injected crash before manifest flip")
    sink._publish = crash
    with pytest.raises(RuntimeError, match="injected"):
        sink.process_batch(spark.createDataFrame(b2, CHANGE_ENVELOPE_SCHEMA), 1)
    # old snapshot intact, no mixed-epoch rows, no data loss
    after_crash = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    assert after_crash == before
    # orphaned version dir exists but is unreferenced
    orphans = [d for d in (tmp_path / "state").iterdir() if d.name.startswith("v-1-")]
    assert orphans

    # "restart": foreachBatch replays epoch 1
    sink._publish = real_publish
    sink.process_batch(spark.createDataFrame(b2, CHANGE_ENVELOPE_SCHEMA), 1)
    got = {r.record["id"]: r.record["age"] for r in sink.state(spark).collect()}
    assert got["3"] == "99" and "5" not in got and len(got) == 7
    # crashed attempt's version dir got garbage-collected
    manifest = sink._read_manifest()
    live = set(manifest.values())
    on_disk = {d.name for d in (tmp_path / "state").iterdir() if d.name.startswith("v-")}
    assert on_disk == live


def test_parquet_state_sink_streaming(spark, tmp_path):
    from walex_spark.streaming.materialize import ParquetStateSink

    src = str(tmp_path / "env_src")
    rows = [
        ("INSERT", "public", "user", None, {"id": "1", "v": "a"}, None, None, TS, 0, 10, 1, 0),
        ("UPDATE", "public", "user", None, {"id": "1", "v": "b"},
         {"id": "1", "v": "a"}, None, TS, 0, 20, 2, 0),
    ]
    spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA).write.parquet(src)
    sink = ParquetStateSink(str(tmp_path / "state2"), ["id"], num_buckets=2)
    stream = read_envelope_stream(spark, src)
    q = sink.attach(stream, checkpoint=str(tmp_path / "ckpt2"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.record["id"]: r.record["v"] for r in sink.state(spark).collect()}
    assert got == {"1": "b"}


def _env_row(op, table, lsn, ts, xid=1, idx=0):
    return (op, "public", table, None, {"id": str(lsn)}, None, None, ts, 0, lsn, xid, idx)


def test_windowed_counts_with_late_data_drop(spark, tmp_path):
    from walex_spark.streaming.windows import windowed_change_counts

    src = str(tmp_path / "wm_src")
    t0 = dt.datetime(2024, 1, 15, 10, 0)
    batch1 = [
        _env_row("INSERT", "user", 1, t0),
        _env_row("INSERT", "user", 2, t0 + dt.timedelta(minutes=5)),
        # advance event time far ahead → watermark moves past 10:10
        _env_row("UPDATE", "user", 3, t0 + dt.timedelta(hours=2)),
    ]
    spark.createDataFrame(batch1, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
    stream = read_envelope_stream(spark, src, max_files_per_trigger=10)
    agg = windowed_change_counts(stream, window="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory").queryName("win_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # late row: event time 10:02, watermark is now ~11:30 → dropped
        late = [_env_row("INSERT", "user", 9, t0 + dt.timedelta(minutes=2))]
        spark.createDataFrame(late, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
        q.processAllAvailable()
        # close remaining windows so appended output is complete
        flush = [_env_row("UPDATE", "user", 10, t0 + dt.timedelta(hours=5))]
        spark.createDataFrame(flush, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
        q.processAllAvailable()
        rows = spark.table("win_out").collect()
    finally:
        q.stop()
    counts = {(r.win_start.strftime("%H:%M"), r.op): r.n_changes for r in rows}
    # the 10:00 window has exactly the two on-time inserts; the late one
    # never shows up (no third row, no updated count)
    assert counts[("10:00", "INSERT")] == 2


def test_sessionized_activity_batch_and_stream(spark, tmp_path):
    from walex_spark.streaming.windows import sessionized_activity

    t0 = dt.datetime(2024, 1, 15, 10, 0)
    rows = [
        _env_row("INSERT", "user", 1, t0),
        _env_row("UPDATE", "user", 2, t0 + dt.timedelta(minutes=10)),
        # 50-minute gap > 30-minute session gap → second session
        _env_row("UPDATE", "user", 3, t0 + dt.timedelta(minutes=60)),
    ]
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    got = sessionized_activity(env, gap="30 minutes").orderBy("sess_start").collect()
    assert [r.n_changes for r in got] == [2, 1]
    # session extends gap past the last event
    assert got[0].sess_end == t0 + dt.timedelta(minutes=40)
    # streaming form produces the same sessions once the watermark closes them
    src = str(tmp_path / "sess_src")
    env.write.parquet(src, mode="append")
    stream = read_envelope_stream(spark, src)
    q = (
        sessionized_activity(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory").queryName("sess_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        flush = [_env_row("UPDATE", "user", 9, t0 + dt.timedelta(hours=6))]
        spark.createDataFrame(flush, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
        q.processAllAvailable()
        srows = spark.table("sess_out").orderBy("sess_start").collect()
    finally:
        q.stop()
    assert [r.n_changes for r in srows] == [2, 1]


def test_dedup_replay_stream(spark, tmp_path):
    from walex_spark.operators import transforms as X

    src = str(tmp_path / "ddw_src")
    t0 = dt.datetime(2024, 1, 15, 10, 0)
    rows = [
        _env_row("INSERT", "user", 1, t0),
        _env_row("INSERT", "user", 1, t0),  # duplicate delivery (replay)
        _env_row("UPDATE", "user", 2, t0 + dt.timedelta(minutes=1)),
    ]
    spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
    stream = read_envelope_stream(spark, src)
    q = (
        X.dedup_replay(stream)
        .writeStream.format("memory").queryName("ddw_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # replay the same change again in a later microbatch — still deduped
        spark.createDataFrame([rows[0]], CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
        q.processAllAvailable()
        got = spark.table("ddw_out").collect()
    finally:
        q.stop()
    assert sorted((r.lsn_lo, r.op) for r in got) == [(1, "INSERT"), (2, "UPDATE")]


def test_checkpoint_restart_no_reprocess(spark, tmp_path):
    """Tier-3 analog (database_test.exs restart semantics): a stream
    stopped and restarted from the same checkpoint resumes at the
    committed offset — already-processed files are not re-dispatched,
    new files are."""
    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    t0 = dt.datetime(2024, 1, 15, 10, 0)
    first = [_env_row("INSERT", "user", 1, t0), _env_row("INSERT", "user", 2, t0)]
    spark.createDataFrame(first, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")

    seen: list[int] = []
    eng = WalExEngine().on_event("*", lambda df, epoch: seen.append(df.count()))
    q = eng.attach(read_envelope_stream(spark, src), checkpoint=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(seen) == 2

    # "crash": new query object, same checkpoint; more data arrives
    second = [_env_row("UPDATE", "user", 3, t0 + dt.timedelta(minutes=1))]
    spark.createDataFrame(second, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
    seen2: list[int] = []
    eng2 = WalExEngine().on_event("*", lambda df, epoch: seen2.append(df.count()))
    q2 = eng2.attach(read_envelope_stream(spark, src), checkpoint=ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # only the new file's row is dispatched after restart
    assert sum(seen2) == 1


def test_engine_async_handlers_alongside_batch(spark, env_df, tmp_path):
    """dsl.ex parity: the `functions` list fires per event (executor-
    side) AND the do_block handler still receives the batch."""
    outdir = tmp_path / "async"
    outdir.mkdir()
    path = str(outdir)

    def notify(row):
        with open(f"{path}/n-{row.name}-{row.lsn_ord}", "w") as f:
            f.write(row.type)

    def audit(row):
        with open(f"{path}/a-{row.name}-{row.lsn_ord}", "w") as f:
            f.write(row.type)

    batch_counts: list[int] = []
    eng = WalExEngine().on_insert(
        "user",
        lambda df, epoch: batch_counts.append(df.count()),
        async_handlers=[notify, audit],
    )
    eng.process_batch(env_df)
    fired = sorted(p.name for p in outdir.iterdir())
    # 2 insert events x 2 async handlers, plus the batch handler once
    assert len(fired) == 4
    assert len([f for f in fired if f.startswith("n-")]) == 2
    assert len([f for f in fired if f.startswith("a-")]) == 2
    assert batch_counts == [2]


def test_engine_runtime_reconfiguration(spark, env_df):
    """config.ex:71-104 analog: handler/subscription mutations apply on
    the next (micro)batch without restarting."""
    counts = {}

    def make(key):
        def h(df, epoch):
            counts[key] = counts.get(key, 0) + df.count()
        return h

    eng = (
        WalExEngine(subscriptions=["user", "todo"])
        .on_insert("user", make("user"))
        .on_update("todo", make("todo"))
    )
    data = env_df
    eng.process_batch(data, 0)
    assert counts == {"user": 2, "todo": 1}
    # drop the user handler + unsubscribe todo between batches
    eng.remove_handlers("user").remove_subscription("todo")
    eng.process_batch(data, 1)
    assert counts == {"user": 2, "todo": 1}  # todo filtered by subscription
    eng.add_subscription("todo")
    eng.process_batch(data, 2)
    assert counts == {"user": 2, "todo": 2}


def test_correlate_changes_stream_matches_batch(spark, tmp_path):
    """Stream-stream join equivalence: correlate_changes over a file
    stream (watermarked, range-bounded join state) produces exactly the
    batch join's pairs once all data is processed."""
    from walex_spark.streaming.windows import correlate_changes

    t0 = dt.datetime(2024, 1, 15, 10, 0)
    rows = [
        ("INSERT", "public", "user", None, {"id": "1"}, None, None, t0, 0, 10, 1, 0),
        ("UPDATE", "public", "user", None, {"id": "1"},
         {"id": "1"}, None, t0 + dt.timedelta(minutes=5), 0, 20, 2, 0),
        ("DELETE", "public", "user", None, None,
         {"id": "1"}, None, t0 + dt.timedelta(minutes=30), 0, 30, 3, 0),
        # different key: pairs with its own insert only
        ("INSERT", "public", "user", None, {"id": "2"}, None, None,
         t0 + dt.timedelta(minutes=1), 0, 40, 4, 0),
        ("UPDATE", "public", "user", None, {"id": "2"},
         {"id": "2"}, None, t0 + dt.timedelta(minutes=2), 0, 50, 5, 0),
        # outside the 1h window: not paired
        ("UPDATE", "public", "user", None, {"id": "1"},
         {"id": "1"}, None, t0 + dt.timedelta(hours=3), 0, 60, 6, 0),
    ]
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    batch = {
        (r.op, r.pk, r.lsn_lo)
        for r in correlate_changes(env, ["id"], within="1 hour").collect()
    }
    assert batch == {("UPDATE", "1", 20), ("DELETE", "1", 30), ("UPDATE", "2", 50)}

    src = str(tmp_path / "corr_src")
    env.write.parquet(src)
    stream = read_envelope_stream(spark, src, max_files_per_trigger=10)
    out = correlate_changes(stream, ["id"], within="1 hour")
    q = (
        out.writeStream.format("memory").queryName("corr_out")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.op, r.pk, r.lsn_lo)
            for r in spark.table("corr_out").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_kill_mid_microbatch_partial_side_effects_replay(spark, tmp_path):
    """Fault injection (database_test.exs:32-210 kill/recover analog):
    a crash BETWEEN registrations inside one microbatch — the first
    handler's side effect has fired, the second raises — must fail the
    query; a restart from the same checkpoint REPLAYS the whole batch
    (at-least-once: the first handler fires twice), and an idempotent
    keyed sink converges to exactly-once state."""
    src = str(tmp_path / "kill_src")
    ckpt = str(tmp_path / "kill_ckpt")
    effects = tmp_path / "effects.log"  # append-only side-effect journal
    crashed = tmp_path / "crashed.flag"
    t0 = dt.datetime(2024, 1, 15, 10, 0)
    rows = [_env_row("INSERT", "user", i, t0) for i in (1, 2, 3)]
    spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")

    def journal(df, epoch):
        with open(effects, "a") as f:
            for r in df.select("lsn").collect():
                # event projection formats the LSN as hi/lo hex
                f.write(f"{int(r.lsn.split('/')[1], 16)}\n")

    def crash_once(df, epoch):
        df.count()  # force evaluation first, like a real downstream write
        if not crashed.exists():
            crashed.write_text("1")
            raise RuntimeError("injected mid-batch failure")

    def build():
        return (
            WalExEngine()
            .on_event("*", journal)
            .on_event("*", crash_once)
        )

    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = build().attach(read_envelope_stream(spark, src), checkpoint=ckpt)
    with pytest.raises(StreamingQueryException, match="injected"):
        q.processAllAvailable()
    q.stop()
    # the first registration's side effect is already durable: partial
    # dispatch is REAL and the restart semantics must tolerate it
    first_pass = effects.read_text().split()
    assert sorted(first_pass) == ["1", "2", "3"]

    q2 = build().attach(read_envelope_stream(spark, src), checkpoint=ckpt)
    try:
        q2.processAllAvailable()  # crash flag set -> second pass succeeds
    finally:
        q2.stop()
    replayed = effects.read_text().split()
    # at-least-once: the journaled handler fired again for the SAME rows
    assert sorted(replayed) == ["1", "1", "2", "2", "3", "3"]
    # the idempotent view of the journal (keyed dedup, what a real sink
    # does via merge) is exactly the input set
    assert sorted(set(replayed)) == ["1", "2", "3"]


def test_record_field_evolution_without_restart(spark, tmp_path):
    """Mid-stream upstream schema change (the reference's Relation
    message case, database_test.exs restart-on-schema-change): the
    envelope's record is MAP-typed, so a NEW column arriving from the
    source shows up as a new map key in later microbatches — no stream
    restart, no schema migration. This test pins that design contract:
    the same running query dispatches both the old-shape and new-shape
    rows, and a restart from checkpoint also handles the mix."""
    src = str(tmp_path / "evo_src")
    ckpt = str(tmp_path / "evo_ckpt")
    t0 = dt.datetime(2024, 1, 15, 10, 0)
    old = [_env_row("INSERT", "user", 1, t0)]
    spark.createDataFrame(old, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")

    seen: list[dict] = []

    def grab(df, epoch):
        for r in df.select("new_record").collect():
            seen.append(dict(r.new_record))

    eng = WalExEngine().on_event("*", grab)
    q = eng.attach(read_envelope_stream(spark, src), checkpoint=ckpt)
    try:
        q.processAllAvailable()
        # upstream ALTER TABLE ADD COLUMN email: new key appears in the
        # record map of subsequent envelope rows — same running query
        new = [
            ("INSERT", "public", "user", None,
             {"id": "2", "email": "x@y.z"}, None, None, t0, 0, 2, 1, 0),
        ]
        spark.createDataFrame(new, CHANGE_ENVELOPE_SCHEMA).write.parquet(
            src, mode="append"
        )
        q.processAllAvailable()
    finally:
        q.stop()
    by_id = {d["id"]: d for d in seen}
    assert "email" not in by_id["1"] and by_id["2"]["email"] == "x@y.z"

    # restart from checkpoint: mixed-shape history replays cleanly
    later = [_env_row("UPDATE", "user", 3, t0)]
    spark.createDataFrame(later, CHANGE_ENVELOPE_SCHEMA).write.parquet(src, mode="append")
    seen2: list[dict] = []
    eng2 = WalExEngine().on_event("*", lambda df, e: seen2.extend(
        dict(r.new_record) for r in df.select("new_record").collect()))
    q2 = eng2.attach(read_envelope_stream(spark, src), checkpoint=ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert [d["id"] for d in seen2] == ["3"]


def test_parse_json_envelope_quarantines_poison_pills(spark):
    """Corrupt JSON in a Kafka-style stream must not poison the
    pipeline: the reject side captures the raw strings for a
    dead-letter sink, the valid side parses cleanly."""
    from walex_spark.sources.envelope import parse_json_envelope_with_rejects

    rows = [
        ('{"op": "INSERT", "table": "user", "record": {"id": "1"}, "lsn_lo": 5}',),
        ("{not json at all",),
        ('{"unrelated": 1}',),  # valid JSON, wrong shape -> no op
        ("",),
    ]
    df = spark.createDataFrame(rows, "value string")
    valid, rejects = parse_json_envelope_with_rejects(df)
    v = valid.collect()
    assert len(v) == 1 and v[0].op == "INSERT" and v[0].record["id"] == "1"
    r = sorted(x.raw for x in rejects.collect())
    assert r == ["", '{"unrelated": 1}', "{not json at all"]


def test_jdbc_retry_backoff_policy(tmp_path):
    """Reference slot-contention policy parity (server.ex:16-17,
    134-135): exponential backoff doubling from 1s, bounded retries,
    then SlotInUseError; an early release lets a retry succeed."""
    from walex_spark.sources.jdbc import SlotInUseError

    ckpt = str(tmp_path / "cursor.json")
    holder = JdbcPollingSource(url="jdbc:x", table="t", cursor_col="lsn", checkpoint_path=ckpt)
    waiter = JdbcPollingSource(url="jdbc:x", table="t", cursor_col="lsn", checkpoint_path=ckpt)
    holder.acquire_lock()
    sleeps: list[float] = []
    try:
        with pytest.raises(SlotInUseError):
            waiter.acquire_lock_with_retry(max_retries=4, sleep=sleeps.append)
        # 3 backoffs for 4 attempts, doubling from 1s
        assert sleeps == [1.0, 2.0, 4.0]

        # retry succeeds once the holder releases mid-backoff
        sleeps.clear()

        def release_then_note(s):
            sleeps.append(s)
            if len(sleeps) == 2:
                holder.release_lock()

        waiter.acquire_lock_with_retry(max_retries=10, sleep=release_then_note)
        assert sleeps == [1.0, 2.0]  # acquired on the 3rd attempt
    finally:
        waiter.release_lock()

    # max_retries=0 would skip the loop and return WITHOUT the lock —
    # silently admitting a second writer; it must refuse instead
    with pytest.raises(ValueError, match="max_retries"):
        waiter.acquire_lock_with_retry(max_retries=0)
