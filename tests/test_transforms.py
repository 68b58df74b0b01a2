"""End-to-end CDC transform tests on the canonical envelope fixture
(FIXTURES.md §2-3): the reference's golden UPDATE on "user" id=1 plus
filter/diff/materialization semantics (SURVEY.md §5 tier-2 analog)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from walex_spark.model import CHANGE_ENVELOPE_SCHEMA
from walex_spark.operators import transforms as X

TS = dt.datetime(2024, 1, 15, 10, 30)


def _cols(names_types):
    return [
        {"name": n, "type": t, "is_key": n == "id", "type_modifier": -1}
        for n, t in names_types
    ]


@pytest.fixture(scope="module")
def envelope(spark):
    user_cols = _cols(
        [("id", "int4"), ("age", "int4"), ("books", "_varchar"), ("meta", "jsonb")]
    )
    rows = [
        # the canonical golden UPDATE (FIXTURES.md §2)
        ("UPDATE", "public", "user", user_cols,
         {"id": "1", "age": "30", "books": '{"book1, 2 and 3","book4"}',
          "meta": '{"key": {"foo": "bar"}, "list": [1, 2, 3]}'},
         {"id": "1", "age": "28", "books": "{}", "meta": "{}"},
         None, TS, 0, 100, 700, 0),
        # trigger-style UPDATE touching only updated_at (unwatched)
        ("UPDATE", "public", "user", user_cols,
         {"id": "2", "age": "40", "updated_at": "2024-01-15T10:31:00Z"},
         {"id": "2", "age": "40", "updated_at": "2024-01-15T10:00:00Z"},
         None, TS, 0, 110, 701, 0),
        ("INSERT", "public", "todo", None,
         {"id": "t-1", "user_id": "1", "is_completed": "f"},
         None, None, TS, 0, 120, 702, 0),
        ("DELETE", "public", "user", None,
         None, {"id": "5", "age": "44"}, None, TS, 0, 130, 703, 0),
        # later UPDATE of user 1 (for state materialization ordering)
        ("UPDATE", "public", "user", user_cols,
         {"id": "1", "age": "31"}, {"id": "1", "age": "30"},
         None, TS, 0, 140, 704, 0),
        ("INSERT", "public", "ignored_table", None,
         {"id": "9"}, None, None, TS, 0, 150, 705, 0),
    ]
    return spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)


def test_relation_filter_parsing():
    f = X.parse_relation_filter("public:user")
    assert (f.schema, f.table) == ("public", "user")
    assert X.parse_relation_filter("*") == X.RelationFilter(None, None)
    assert X.parse_relation_filter("public") == X.RelationFilter("public", None)
    with pytest.raises(ValueError):
        X.parse_relation_filter("public:users:bad")


def test_matches_semantics(envelope):
    # FIXTURES.md §6: INSERT on public.todo must match these
    assert X.matches(envelope, "*", "*").count() == 6
    assert X.matches(envelope, "INSERT", "public").count() == 2
    assert X.matches(envelope, "INSERT", "public:todo").count() == 1
    assert X.matches(envelope, "UPDATE", "public:todo").count() == 0
    assert X.matches(envelope, "INSERT", "myschema").count() == 0


def test_subscriptions(envelope):
    assert X.filter_subscribed(envelope, ["user", "todo"]).count() == 5
    assert X.filter_subscribed(envelope, None).count() == 6


def test_golden_update_event(envelope):
    """The reference's end-to-end oracle (event_test.exs:55-91)."""
    ev = X.filter_and_cast(
        envelope, table="user", record_types=["update"], db="todos_test"
    ).orderBy("lsn_ord")
    rows = ev.collect()
    first = rows[0]
    assert first.name == "user"
    assert first.type == "update"
    assert first.source.name == "WalExSpark"
    assert first.source.db == "todos_test"
    assert first.source.columns == {
        "id": "int4", "age": "int4", "books": "_varchar", "meta": "jsonb"
    }
    assert first.new_record["age"] == "30"
    assert first.new_record["books"] == '{"book1, 2 and 3","book4"}'
    # UPDATE omits old_record (event.ex:65-87) but carries the diff
    assert first.old_record is None
    assert set(first.changes.keys()) == {"age", "books", "meta"}
    assert first.changes["age"].old_value == "28"
    assert first.changes["age"].new_value == "30"
    assert first.lsn == "0/64"  # hex(100)


def test_unwatched_fields(envelope):
    ev = X.filter_and_cast(envelope, table="user", record_types=["update"])
    assert ev.count() == 3
    watched = X.filter_unwatched_fields(ev, ["updated_at"])
    # the trigger-only UPDATE (user 2) is dropped
    assert watched.count() == 2
    ids = {r.new_record["id"] for r in watched.collect()}
    assert ids == {"1"}


def test_unwatched_records(envelope):
    out = X.filter_and_cast(envelope, unwatched_records={"id": "5"})
    # the DELETE of id=5 is excluded (old_record consulted)
    assert out.count() == 5


def test_unwatched_records_missing_key_kept(envelope):
    """Reference keep-semantics on a missing key: contains_unwatched_records?
    requires Map.has_key?(record, key) AND value equality
    (transaction_filter.ex:203-207), so a record without the key is NOT
    unwatched and the event stays. Every fixture row lacks a 'status'
    key, so {'status': 'archived'} must drop nothing — the pre-fix bare
    getItem== predicate NULL-propagated and dropped all 6."""
    out = X.filter_and_cast(envelope, unwatched_records={"status": "archived"})
    assert out.count() == 6
    # conjunctive mix: one present-and-matching key plus one missing key
    # still fails the conjunction -> everything kept
    out2 = X.filter_and_cast(envelope, unwatched_records={"id": "5", "status": "x"})
    assert out2.count() == 6


def test_unwatched_records_null_value_kept(spark):
    """A key present with a NULL value: Map.get == 'archived' is false in
    the reference, so the event is kept (key-only DELETE old_records
    under REPLICA IDENTITY DEFAULT hit this shape in practice)."""
    rows = [
        ("DELETE", "public", "user", None, None,
         {"id": "7", "status": None}, None, TS, 0, 200, 710, 0),
        ("DELETE", "public", "user", None, None,
         {"id": "8", "status": "archived"}, None, TS, 0, 210, 711, 0),
    ]
    df = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    out = X.filter_and_cast(df, unwatched_records={"status": "archived"})
    kept = [r.old_record["id"] for r in out.collect()]
    assert kept == ["7"]  # NULL-valued row kept, matching row dropped


def test_delete_event_uses_old_record(envelope):
    ev = X.filter_and_cast(envelope, table="user", record_types=["delete"])
    row = ev.collect()[0]
    assert row.new_record is None
    assert row.old_record["id"] == "5"
    assert row.changes is None


def test_materialize_table_state(envelope):
    state = X.materialize_table_state(
        envelope.filter(F.col("table") == "user"), ["id"]
    )
    rows = {r.record["id"]: r for r in state.collect()}
    # user 1: latest change (lsn 140) wins → age 31
    assert rows["1"].record["age"] == "31"
    # user 5 was deleted → absent
    assert "5" not in rows
    assert "2" in rows


def test_materialize_truncate_tombstone(spark):
    """TRUNCATE wipes every lower-(lsn,change_idx) row of its table —
    other tables untouched, later inserts survive, and the TRUNCATE
    row itself never reaches the snapshot (pgoutput Truncate message)."""
    rows = [
        ("INSERT", "public", "user", None, {"id": "1", "age": "30"}, None, None, TS, 0, 10, 1, 0),
        ("INSERT", "public", "user", None, {"id": "2", "age": "40"}, None, None, TS, 0, 20, 2, 0),
        ("INSERT", "public", "todo", None, {"id": "t1"}, None, None, TS, 0, 25, 3, 0),
        ("TRUNCATE", "public", "user", None, None, None, None, TS, 0, 30, 4, 0),
        ("INSERT", "public", "user", None, {"id": "3", "age": "50"}, None, None, TS, 0, 40, 5, 0),
    ]
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    state = X.materialize_table_state(env, ["id"]).collect()
    got = {(r.table, r.record["id"]) for r in state}
    assert got == {("user", "3"), ("todo", "t1")}
    assert all(r.record is not None for r in state)


def test_materialize_truncate_same_lsn_tiebreak(spark):
    """A row sharing the TRUNCATE's lsn with lower change_idx is wiped;
    higher change_idx survives (change_idx orders within a txn)."""
    rows = [
        ("INSERT", "public", "user", None, {"id": "1"}, None, None, TS, 0, 30, 1, 0),
        ("TRUNCATE", "public", "user", None, None, None, None, TS, 0, 30, 1, 1),
        ("INSERT", "public", "user", None, {"id": "2"}, None, None, TS, 0, 30, 1, 2),
    ]
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    got = {r.record["id"] for r in X.materialize_table_state(env, ["id"]).collect()}
    assert got == {"2"}


def test_dedup_replay(envelope):
    replayed = envelope.unionByName(envelope)
    assert X.dedup_replay(replayed).count() == envelope.count()


def test_set_type(envelope):
    got = envelope.select(X.set_type().alias("t")).distinct().collect()
    vals = {r.t for r in got}
    assert "user.update" in vals and "todo.insert" in vals


def test_events_to_json_roundtrip(envelope):
    ev = X.filter_and_cast(envelope, table="user", record_types=["update"])
    js = ev.select(X.events_to_json(ev).alias("j")).collect()
    import json

    parsed = [json.loads(r.j) for r in js]
    by_id = {p["new_record"]["id"]: p for p in parsed}
    assert by_id["1"]["type"] == "update"
    assert by_id["1"]["source"]["name"] == "WalExSpark"
    # UPDATE events carry the diff, not old_record (event.ex:65-87)
    assert "age" in by_id["1"]["changes"]
    assert "old_record" not in by_id["1"] or by_id["1"]["old_record"] is None


def test_resolve_unchanged_toast(spark):
    from walex_spark.model import UNCHANGED_TOAST

    cols = _cols([("id", "int4"), ("payload", "text")])
    rows = [
        ("INSERT", "public", "t", cols, {"id": "1", "payload": "big-blob-v1"},
         None, None, TS, 0, 10, 1, 0),
        # UPDATE that didn't touch payload → sentinel on the wire
        ("UPDATE", "public", "t", cols, {"id": "1", "payload": UNCHANGED_TOAST},
         {"id": "1"}, None, TS, 0, 20, 2, 0),
        # UPDATE that rewrote it
        ("UPDATE", "public", "t", cols, {"id": "1", "payload": "big-blob-v2"},
         {"id": "1"}, None, TS, 0, 30, 3, 0),
        # sentinel again → resolves to v2
        ("UPDATE", "public", "t", cols, {"id": "1", "payload": UNCHANGED_TOAST},
         {"id": "1"}, None, TS, 0, 40, 4, 0),
        # different pk, sentinel with no prior value → NULL
        ("UPDATE", "public", "t", cols, {"id": "2", "payload": UNCHANGED_TOAST},
         {"id": "2"}, None, TS, 0, 50, 5, 0),
    ]
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    out = X.resolve_unchanged_toast(env, ["id"], ["id", "payload"])
    got = {(r.lsn_lo): r.record["payload"] for r in out.collect()}
    assert got[10] == "big-blob-v1"
    assert got[20] == "big-blob-v1"   # carried forward
    assert got[30] == "big-blob-v2"
    assert got[40] == "big-blob-v2"   # carried forward from the rewrite
    assert got[50] is None            # no prior value to carry


def test_map_changes_old_keys_only(spark):
    """Reference key-set semantics (transaction_filter.ex:210): the
    diff iterates Map.keys(old_record) — a field only the NEW record
    carries is never reported. Under REPLICA IDENTITY DEFAULT an
    UPDATE's old_record is key-only, so the diff must cover the key
    columns alone, not claim every non-key field changed from NULL;
    an old-only key diffs against NULL (reference Map.get -> nil)."""
    rows = [
        # RID-DEFAULT shape: old has only the key; age/status new-only
        ("UPDATE", "public", "user", None,
         {"id": "1", "age": "31", "status": "on"}, {"id": "1"},
         None, TS, 0, 300, 720, 0),
        # old-only key (dropped column mid-stream): diffs vs NULL
        ("UPDATE", "public", "user", None,
         {"id": "2"}, {"id": "2", "legacy": "x"},
         None, TS, 0, 310, 721, 0),
        # same keys, one real change
        ("UPDATE", "public", "user", None,
         {"id": "3", "age": "40"}, {"id": "3", "age": "39"},
         None, TS, 0, 320, 722, 0),
    ]
    df = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    out = {
        r.old_record["id"]: r.ch
        for r in df.select(
            "old_record", X.map_changes().alias("ch")
        ).collect()
    }
    assert out["1"] == {}  # key unchanged; new-only fields NOT diffed
    assert set(out["2"].keys()) == {"legacy"}
    assert out["2"]["legacy"].old_value == "x"
    assert out["2"]["legacy"].new_value is None
    assert set(out["3"].keys()) == {"age"}
