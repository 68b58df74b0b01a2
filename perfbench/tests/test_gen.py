"""Generator determinism and truth consistency (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import struct

import pytest

from perfbench import gen


def _wal(seed, n_files=8):
    return gen.gen_wal_stream(seed, n_files, rate=200)


def test_wal_stream_same_seed_same_frames_and_truth():
    a_files, a_truth = _wal(5)
    b_files, b_truth = _wal(5)
    assert a_files == b_files
    assert a_truth == b_truth
    c_files, c_truth = _wal(6)
    assert c_files != a_files and c_truth != a_truth


def test_wal_stream_truth_matches_frames():
    files, truth = _wal(3)
    frames = [f for fs in files for f in fs]
    assert truth["frames"] == len(frames)
    tags = [f[0:1] for f in frames]
    assert tags.count(b"B") == tags.count(b"C") == truth["txns"]
    assert tags.count(b"R") == 5  # 4 relations plus the mid-stream re-send
    assert tags.count(b"T") == 1
    assert sum(truth["counts"].values()) == truth["changes"] == 8 * truth["per_file"]
    ops = {k.split(".")[1] for k in truth["counts"]}
    assert ops == {"INSERT", "UPDATE", "DELETE", "TRUNCATE"}


def test_wal_stream_files_hold_whole_transactions_of_their_interval():
    files, truth = _wal(2)
    step = int(gen.FILE_INTERVAL_S * 1e6)
    for k, frames in enumerate(files):
        body = [f for f in frames if f[0:1] != b"R"]
        assert body[0][0:1] == b"B" and body[-1][0:1] == b"C"
        changes = sum(1 if f[0:1] in (b"I", b"U", b"D") else 2 if f[0:1] == b"T" else 0
                      for f in body)
        assert changes == truth["per_file"]
        for f in body:
            if f[0:1] == b"B":
                ts = struct.unpack(">QQI", f[1:])[1] + gen.PG_EPOCH_UNIX_US
                assert 0 <= ts - truth["base_us"] - k * step < step
    assert [f[0:1] for f in files[0][:4]] == [b"R"] * 4  # relations open the stream


def test_wal_stream_exercises_both_decoder_paths():
    frames = [f for fs in _wal(4)[0] for f in fs]
    # inserts and new-tuple-only updates take the decoder's inline path
    fast = [f for f in frames if f[0:1] in (b"I", b"U") and f[5:6] == b"N"]
    old_tuple_updates = [f for f in frames if f[0:1] == b"U" and f[5:6] == b"O"]
    key_only_deletes = [f for f in frames if f[0:1] == b"D" and f[5:6] == b"K"]
    toast = [f for f in frames if f[0:1] == b"U" and b"u" in f[8:]]
    assert fast and old_tuple_updates and key_only_deletes and toast


def test_frame_layout_follows_protocol():
    begin = gen.frame_begin(0x10, 7, 42)
    assert begin[0:1] == b"B" and struct.unpack(">QQI", begin[1:]) == (0x10, 7, 42)
    ins = gen.frame_insert(9, ["1", None, gen.TOAST])
    assert ins == b"I" + struct.pack(">I", 9) + b"N" + struct.pack(">H", 3) + \
        b"t" + struct.pack(">I", 1) + b"1" + b"n" + b"u"
    one_cell = struct.pack(">H", 1) + b"t" + struct.pack(">I", 1)
    assert gen.frame_update(9, ["1"], old=["0"]) == \
        b"U" + struct.pack(">I", 9) + b"O" + one_cell + b"0" + b"N" + one_cell + b"1"


def test_stream_merge_deterministic_and_state_digest():
    files_a, truth_a = gen.gen_stream_merge(2, n_files=6)
    files_b, truth_b = gen.gen_stream_merge(2, n_files=6)
    assert files_a == files_b and truth_a == truth_b
    for rows in files_a:
        distinct = {(r["lsn"], r["change_idx"]) for r in rows}
        assert len(distinct) == truth_a["per_file"]
        assert len(rows) - len(distinct) == int(truth_a["per_file"] * gen.STREAM_DUP_RATE)
    # stamps of file k fall inside its interval
    step = int(gen.FILE_INTERVAL_S * 1e6)
    for k, rows in enumerate(files_a):
        for r in rows:
            assert 0 <= r["commit_ts_us"] - truth_a["base_us"] - k * step < step


def test_materialize_caches_per_seed(tmp_path):
    d1, t1 = gen.materialize("wal_stream", 1, str(tmp_path / "a"), seconds=gen.TRIGGER_S)
    d2, t2 = gen.materialize("wal_stream", 1, str(tmp_path / "b"), seconds=gen.TRIGGER_S)
    assert t1 == t2
    names = sorted(os.listdir(os.path.join(d1, "files")))
    assert len(names) == t1["files"] == gen.WARMUP_FILES + gen.FILES_PER_TRIGGER
    for name in names:
        assert filecmp.cmp(os.path.join(d1, "files", name),
                           os.path.join(d2, "files", name), shallow=False)
    # reuse: a second call returns the cached truth without rewriting
    mtime = os.path.getmtime(os.path.join(d1, "truth.json"))
    d3, t3 = gen.materialize("wal_stream", 1, str(tmp_path / "a"), seconds=gen.TRIGGER_S)
    assert d3 == d1 and t3 == t1
    assert os.path.getmtime(os.path.join(d1, "truth.json")) == mtime
    with open(os.path.join(d1, "truth.json")) as f:
        assert json.load(f) == t1


def test_materialize_rejects_unknown_workload(tmp_path):
    with pytest.raises(ValueError):
        gen.materialize("nope", 1, str(tmp_path))
