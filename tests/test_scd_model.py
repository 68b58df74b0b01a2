"""Model-based randomized tests for the history/merge layer
(operators/scd.py): hundreds of seeded random per-key change sequences
validated against a 20-line Python reference model — the wide-net
complement to test_scd.py's hand-picked edges. One Spark job per
operator (all keys in one DataFrame), deterministic seed."""

import datetime as dt
import random

from pyspark.sql import functions as F

from walex_spark.model import CHANGE_ENVELOPE_SCHEMA
from walex_spark.operators.scd import (
    maintain_group_counts,
    scd2_history,
)

TS = dt.datetime(2024, 1, 15, 10, 30)
GROUPS = ["a", "b", "c"]


TABLES = ["t", "u"]


def _random_changelog(seed=42, n_keys=60, max_events=8):
    """Each key's table is drawn from two tables that share key values:
    (t, 7) and (u, 7) are different rows."""
    rng = random.Random(seed)
    rows, lsn = [], 100
    for key in range(n_keys):
        table = rng.choice(TABLES)
        for _ in range(rng.randint(1, max_events)):
            op = rng.choice(["INSERT", "UPDATE", "DELETE"])
            g = rng.choice(GROUPS)
            rec = {"id": str(key % (n_keys // 2)), "g": g} if op != "DELETE" else None
            old = {"id": str(key % (n_keys // 2)), "g": g} if op == "DELETE" else None
            rows.append(
                (op, "public", table, None, rec, old, None, TS, 0, lsn, 900, 0)
            )
            lsn += 1
    rng.shuffle(rows)  # arrival order must not matter (LSN order does)
    return rows


def _row(r):
    """The model's row identity: (table, id)."""
    return (r[2], (r[4] or r[5])["id"])


def _model_state(rows):
    """Reference last-wins state: (table, id) -> g of the latest live
    version."""
    state = {}
    for r in sorted(rows, key=lambda r: r[9]):
        op, rec, key = r[0], r[4], _row(r)
        if op == "DELETE":
            state.pop(key, None)
        else:
            state[key] = rec["g"]
    return state


def test_scd2_intervals_partition_each_keys_life(spark):
    rows = _random_changelog()
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    got = (
        scd2_history(env, ["id"])
        .select(
            "table",
            F.col("record").getItem("id").alias("id"),
            "valid_from_lsn", "valid_to_lsn", "is_current",
        )
        .collect()
    )
    by_key = {}
    for r in got:
        by_key.setdefault((r.table, r.id), []).append(r)
    # model: per (table, id), the I/U events' LSNs in order; each opens
    # a version closed by the row's next event of any kind
    events = {}
    for row in sorted(rows, key=lambda r: r[9]):
        events.setdefault(_row(row), []).append((row[9], row[0]))
    for key, evs in events.items():
        expected = []
        for i, (lsn, op) in enumerate(evs):
            if op == "DELETE":
                continue
            nxt = evs[i + 1][0] if i + 1 < len(evs) else None
            expected.append((lsn, nxt))
        rows_k = sorted(
            [(r.valid_from_lsn, r.valid_to_lsn) for r in by_key.get(key, [])]
        )
        assert rows_k == sorted(expected), f"key {key}"
        # exactly one open interval iff the key is live
        opens = [r for r in by_key.get(key, []) if r.is_current]
        live = evs[-1][1] != "DELETE"
        assert len(opens) == (1 if live else 0), f"key {key}"


def test_incremental_counts_match_model_state(spark):
    rows = _random_changelog(seed=7)
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    got = {
        r.g: r.n_rows for r in maintain_group_counts(env, ["id"], "g").collect()
    }
    state = _model_state(rows)
    expected = {}
    for g in state.values():
        expected[g] = expected.get(g, 0) + 1
    assert got == expected


def test_incremental_sums_match_model_state(spark):
    from walex_spark.operators.scd import maintain_group_sums

    rng = random.Random(11)
    rows, lsn = [], 100
    for key in range(50):
        for _ in range(rng.randint(1, 8)):
            op = rng.choice(["INSERT", "UPDATE", "DELETE"])
            g = rng.choice(GROUPS)
            m = rng.choice([None, 0, 3, 7, -5, 100])
            rec = (
                {"id": str(key), "g": g,
                 "m": None if m is None else str(m)}
                if op != "DELETE" else None
            )
            old = {"id": str(key), "g": g} if op == "DELETE" else None
            rows.append(
                (op, "public", "t", None, rec, old, None, TS, 0, lsn, 900, 0)
            )
            lsn += 1
    rng.shuffle(rows)
    env = spark.createDataFrame(rows, CHANGE_ENVELOPE_SCHEMA)
    got = {
        r.g: (r.n_rows, r.sum_measure)
        for r in maintain_group_sums(env, ["id"], "g", "m").collect()
    }
    # model: last live version per key, then aggregate per group
    state = {}
    for op, _s, _t, _c, rec, old, _k, _ts, hi, lo, _x, _ci in sorted(
        rows, key=lambda r: r[9]
    ):
        key = (rec or old)["id"]
        if op == "DELETE":
            state.pop(key, None)
        else:
            state[key] = (rec["g"], rec["m"])
    expected = {}
    for g, m in state.values():
        n, s = expected.get(g, (0, None))
        mv = None if m is None else int(m)
        s = mv if s is None and mv is not None else (
            s if mv is None else s + mv
        )
        expected[g] = (n + 1, s)
    assert got == expected
