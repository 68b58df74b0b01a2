"""Percentiles, failure ratios, open-loop window bookkeeping and span
self time (no Spark needed)."""

import pytest

from perfbench.measure import OpenLoop, failed_ratio, median, percentile, window_latencies
from perfbench.spans import Span, Tracer, self_time


def test_percentile_interpolates_and_counts():
    assert percentile([3, 1, 2], 50) == (2, 3)
    assert percentile([10, 20], 50) == (15.0, 2)
    value, n = percentile(list(range(101)), 99)
    assert value == pytest.approx(99.0) and n == 101
    assert percentile([7], 99) == (7, 1)
    assert median([4, 1, 3, 2]) == 2.5


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1], 101)


def test_failed_ratio():
    assert failed_ratio(0, 10) == 0.0
    assert failed_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        failed_ratio(0, 0)
    with pytest.raises(ValueError):
        failed_ratio(5, 4)


def _loop():
    # files every 0.5 s from t0=100; 2 warm-up files, 4 measured
    return OpenLoop(t0=100.0, interval=0.5, warmup_files=2, measured_files=4)


def test_open_loop_window_and_lateness():
    loop = _loop()
    assert [loop.in_window(k) for k in range(7)] == [False, False, True, True, True, True, False]
    assert loop.due(0) == 100.5 and loop.window_end == 103.0
    loop.landed.update({0: 100.5, 1: 101.0 + 0.012, 2: 101.5 + 0.003})
    assert loop.late_ms_max() == pytest.approx(12.0)
    assert OpenLoop(0.0, 0.5, 0, 1).late_ms_max() == 0.0


def test_window_latencies_exclude_warmup_and_count_late_delivery():
    loop = _loop()
    base = 1_000_000
    step = 500_000
    batches = [
        # warm-up file 1 only: excluded
        (101.2, {base + 1 * step: 10}),
        # file 2 (stamp 1.0 s after t0) and file 3, done at 102.1
        (102.1, {base + 2 * step: 5, base + 3 * step + 250_000: 5}),
        # files 4 and 5 finish 6 s after the window's end: late, not delivered
        (109.5, {base + 4 * step: 4, base + 5 * step: 6}),
    ]
    lat, delivered = window_latencies(loop, batches, base, grace_s=5.0)
    assert len(lat) == 20  # every window change has a latency sample
    assert delivered == 10  # only the on-time batch counts as delivered
    assert lat[:5] == [pytest.approx(1100.0)] * 5  # 102.1 - (100 + 1.0)
    assert lat[5:10] == [pytest.approx(350.0)] * 5  # 102.1 - (100 + 1.75)


def test_self_time_subtracts_union_of_children():
    parent = Span(1, "p", "k", None, start=0.0, end=10.0)
    kids = [Span(2, "a", "k", 1, 1.0, 3.0), Span(3, "b", "k", 1, 2.0, 4.0),
            Span(4, "c", "k", 1, 6.0, 7.0), Span(5, "d", "k", 1, 9.5, 12.0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0 - 0.5)
    assert self_time(parent, []) == 10.0


def test_tracer_nests_spans_per_thread():
    t = Tracer()
    t.key = "w/0"
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert inner.key == outer.key == "w/0"
    assert t.children(outer) == [inner]
    assert t.self_s(outer) == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))


def test_benchmark_json_lists_exactly_the_reported_metrics():
    import json
    import os

    from perfbench.measure import END_TO_END_UNITS, LAYER_UNITS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
