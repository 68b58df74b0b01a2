import os

import pytest

from walex_spark.session import get_spark

# ---------------------------------------------------------------------------
# Two-tier suite (VERDICT r11 #2: the driver's pytest run truncated at
# ~69% of the 51-minute full suite, so the gate silently stopped
# gating). The DEFAULT tier — what a bare `python -m pytest tests/`
# runs — skips the entries below and completes in about 8 minutes
# (2026-10-20, 4-vCPU host: 1071 passed / 59 skipped in 8:15). The
# full suite was last timed on 2026-08-18 at 70:38 (1110 passed), when
# the default tier took 28 minutes; it has not been re-timed since.
# Set WALEX_SLOW_TESTS=1 to run everything (tools/gate.sh full).
#
# The cut is semantic, not just a time threshold: the slow tier is the
# end-to-end / replay / compaction exercises of the streaming twins
# (whose per-epoch SEMANTICS stay covered in the default tier by
# test_queries' oracle compares — every q_doc_*_incr query compares
# Spark vs DuckDB there) plus the two BPE oracle params whose cost is
# the DUCKDB side (q_doc_bpe_encode's oracle ran 990 s — 16 minutes of
# the 70 — in one recursive-CTE DuckDB execution), plus four >20 s
# stragglers. Whole files match on the file name, single tests on a
# node-id substring; both lists stay in one reviewable place.
# tests/test_streaming.py (engine replay dedup, sink crash and
# kill-mid-swap) runs in the default tier: it gates exactly-once.
# ---------------------------------------------------------------------------
SLOW_FILES = (
    # twin e2e / replay / compaction files (wholesale)
    "test_dedup_incr.py",
    "test_drift_incr.py",
    "test_pii_incr.py",
)
SLOW_NODE_PATTERNS = (
    # individual >20s stragglers (calm full-run durations)
    "test_expectation_checks_count_violations",
    "test_hamming_tie_breaks_on_neighbor_id",
) + tuple(
    # DuckDB-oracle-dominated parametrized compares (bpe) and >20 s
    # stragglers (ndcg, nb_classifier); anchored to the oracle tests,
    # so test_scale_lint still runs for these queries
    f"{test}[{name}]"
    for test in (
        "test_queries.py::test_query_matches_oracle",
        "test_entry_contract.py::test_oracle_runs_in_driver_duckdb",
    )
    for name in ("q_doc_bpe_encode", "q_doc_bpe_merges", "q_doc_ndcg", "q_doc_nb_classifier")
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight e2e/replay/compaction tests, skipped unless "
        "WALEX_SLOW_TESTS=1 so the default gate finishes inside the "
        "driver's budget",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("WALEX_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set WALEX_SLOW_TESTS=1 to run"
    )
    for item in items:
        if (
            "slow" in item.keywords
            or item.path.name in SLOW_FILES
            or any(p in item.nodeid for p in SLOW_NODE_PATTERNS)
        ):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("walex-tests", shuffle_partitions=8)
    yield s
    s.stop()
