"""Registry-wide scale lint: EVERY registered query's physical plan is
audited against the global 100 TB rules, not just the hand-pinned
headliners in test_plans.py.

Rules:
  1. No CartesianProduct, ever.
  2. BroadcastNestedLoopJoin only within a small per-query allowance —
     the bounded metadata broadcasts (one-row corpus stats, centroid
     tables, query-side ANN frames). Any NEW query that accidentally
     plans a data-sized BNLJ fails here before it ever reaches a
     driver round.
  3. Single-partition windows (empty PARTITION BY over unbounded
     input) only where declared: global top-k ranks computed AFTER a
     LIMIT, or metadata-sized frames (per-partition offsets). The
     allowlist is explicit so adding one is a conscious act.

  4. Per-query Exchange BUDGET (exchange_budgets.json, measured from
     the live plans): a refactor that silently adds a shuffle to any
     registered query fails the lint. The docstrings' "one shuffle"
     claims are contracts now, not prose. A query that legitimately
     needs another exchange updates its budget IN the same change —
     a conscious, reviewable act. Queries that legitimately drop an
     exchange should tighten their budget (asserted <=, so looser
     budgets don't fail, but the gap is reported by
     tools/refresh_exchange_budgets.py).

Plans are built at sf0.001 — the lint asserts what Catalyst PLANS,
not what it computes, so this stays cheap enough to run over the
whole registry.
"""

import json
import os
import re

import duckdb
import pytest
from pyspark.sql import types as T

from walex_spark import queries as Q
from walex_spark.plans import audit

SF_DIR = "/root/testdata/sf0.001"

# --- oracle-dtype lint (codified after r10's two red rows) -----------
# DuckDB types SUM(BIGINT) as HUGEINT and .df() materializes HUGEINT
# as float64, so an oracle whose aggregate casts INSIDE instead of
# OUTSIDE ships 42.0 against Spark's int64 42 and the driver's hash
# gate reds the row even though every cell value is equal (the
# q_doc_pii_scan / q_doc_pii_redact root cause, VERDICT r10 #1-#2).
# DESCRIBE binds the oracle without executing it, so this covers the
# whole registry at plan cost.
_ORACLE_FLOATING_TYPES = re.compile(
    r"^(HUGEINT|UHUGEINT|UBIGINT|DECIMAL\b.*)$", re.IGNORECASE
)


def _duck_describe(sql: str):
    con = _DUCK
    return con.execute(f"DESCRIBE {sql}").fetchall()


_DUCK = duckdb.connect()
for _t in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split():
    _DUCK.execute(
        f"CREATE VIEW {_t} AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/{_t}.parquet')"
    )

with open(os.path.join(os.path.dirname(__file__), "exchange_budgets.json")) as f:
    EXCHANGE_BUDGETS = json.load(f)

# queries whose plans legitimately carry BroadcastNestedLoopJoins —
# every entry is a bounded broadcast (one-row aggregate, n_cells-row
# centroid table, or an already-top-k query frame), documented in the
# query's own docstring
BNLJ_ALLOWANCE = {
    "q_emb_cosine_topk": 1,       # broadcast query side
    "q_emb_ann_ivf": 2,           # centroid table x2 (corpus+query assign)
    "q_emb_ann_ivf_trained": 2,
    "q_emb_ann_ivfpq": 2,
    "q_emb_ann_pq": 2,            # codebook assigns
    "q_emb_ann_sq8": 1,           # broadcast query side
    "q_emb_ann_recall": 2,        # brute-force truth side + zero-hit left join
    "q_emb_ann_recall_ivf": 2,    # centroid assigns + brute-force truth
    # brute-force truth + RP-space brute-force approx query sides +
    # recall's zero-hit left join (q_emb_ann_recall's approx side is an
    # equi-join on the LSH bucket, hence its lower allowance)
    "q_emb_ann_rp": 3,
    "q_emb_hard_negatives": 1,    # broadcast anchor side (brute-force shape)
    "q_emb_knn_eval": 1,          # broadcast eval-sample anchor side
    "q_emb_hamming_topk": 1,      # broadcast anchor side (sign-bit scan)
    "q_doc_nb_classifier": 1,     # C-row per-class-constants broadcast
    # one-row weight-total + one-row remainder broadcasts + the
    # |sources|-row fractional-rank frame — all metadata-sized
    "q_doc_token_budget": 3,
    "q_doc_dsir": 1,              # one-row corpus-constant (k_const) broadcast
    # BM25's one-row corpus stats + the one-row contribution-list
    # frame + the k-row ideal/got join — all LIMIT-k or one-row
    "q_doc_ndcg": 3,
    "q_emb_label_margin": 1,      # |labels|-sized centroid broadcast
    "q_emb_near_dup": 1,          # bucketized self-join residual
    "q_emb_semantic_dedup": 2,
    "q_doc_cluster_survivors": 2,
    "q_doc_leak_safe_split": 2,
    "q_hybrid_rrf": 2,            # BM25 one-row stats + brute-force query side
    "q_doc_bm25": 1,              # one-row corpus stats
    "q_doc_prf": 1,               # the same one-row stats, 2nd pass
    "q_doc_dataset_card": 1,      # one-row base x one-row vocab join
    # the |sources|-row totals broadcast + the one-row corpus-total
    # broadcast building the |buckets| x |sources| PSI grid
    "q_doc_source_psi": 2,
    # same grid shape over the raw value domain (|values| x |sources|)
    "q_doc_source_ks": 2,
    "q_doc_temp_mixture": 1,      # one-row min-count
    "q_doc_pipeline_e2e": 1,      # one-row min-count (mixture stage)
    "q_doc_surprisal": 1,         # one-row n_total
    "q_doc_burstiness": 1,        # one-row doc-count broadcast
    # n_total (evaluated in two subtrees of the un-checkpointed
    # surprisal base) + the one-row percentile-threshold broadcast
    "q_doc_quality_buckets": 3,
    "q15_top_supplier": 1,        # one-row max-revenue
    "q22_idle_customers": 1,      # one-row avg balance
    "q11_important_parts": 1,     # one-row threshold
    "q_events_outliers": 1,       # one-row global stats
    "q_doc_weighted_sample": 1,   # one-row max weight
    "q_quantiles": 0,
    "q_cdc_time_travel": 1,       # one-row LSN cutoff broadcast
    "q_doc_heavy_hitters": 1,     # one-row token total
    "q_doc_term_scores": 1,       # one-row n_docs
}
DEFAULT_BNLJ = 0

# queries that legitimately contain a partition-less window: global
# rank AFTER a LIMIT (TakeOrdered feeds k rows), or a window over a
# metadata-sized frame (per-partition offsets, partition counts)
GLOBAL_WINDOW_OK = {
    "q_doc_bm25",            # rank over the top-k LIMIT output
    "q_doc_dsir",            # rank over the top-k LIMIT output
    "q_doc_ndcg",            # BM25 + ideal ranks, both after LIMIT k
    "q_hybrid_rrf",          # rank over two fused top-k lists
    "q_doc_global_shuffle",  # offsets window over the partition frame
    "q_doc_pack_sequences",  # same offsets frame (prefix_sums)
    "q_range_agg_twolevel",  # same offsets frame (prefix_sums_multi)
    "q02_top_revenue_orders",  # rank after LIMIT
    "q03_shipping_priority",
    "q_doc_vocab_topk",
    "q_doc_heavy_hitters",
    "q_doc_bpe_merges",      # metadata argmax per round
    # fractional-rank window over the |sources|-row apportionment
    # table (a bounded dimension by definition — see the operator)
    "q_doc_token_budget",
    # global_sorted_index offsets frame (~n_partitions rows) + the
    # |strata|-row stratum-offset running sum — both metadata-sized
    "q_doc_split",
    # same offsets frame, for the vocab-rank range sort
    "q_doc_token_ids",
    # same offsets frame, for the curriculum range sort
    "q_doc_curriculum",
    # same offsets frame, for the per-source vocab-rank range sort
    "q_doc_zipf",
    # same offsets frame (prefix_sums_multi over the per-doc counts)
    "q_doc_heaps",
    # rank over the top-k LIMIT output (the q_doc_bm25 class)
    "q_doc_prf",
    "q_doc_junk_fuse",
}


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_scale_lint(spark, name):
    df = Q.QUERIES[name](spark, SF_DIR)
    # Driver-canon rule (codified after r08's one red row,
    # q_doc_token_ids): the driver canonicalizes results with pandas
    # sort_values over EVERY column before hashing, and a top-level
    # array/map/struct cell is unhashable there — the query reds the
    # board even when its values are correct. Surface nested data as a
    # joined string (array_join) or exploded rows instead.
    for f in df.schema.fields:
        assert not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType)
        ), (
            f"{name}: top-level {f.dataType.simpleString()} column "
            f"{f.name!r} breaks the driver canonicalizer (pandas "
            "sort_values over unhashable cells) — emit array_join(...) "
            "or explode to rows"
        )
    if name in Q.ORACLES:
        spark_types = {f.name: f.dataType for f in df.schema.fields}
        for col, duck_type, *_ in _duck_describe(Q.ORACLES[name]):
            if not _ORACLE_FLOATING_TYPES.match(duck_type):
                continue
            st = spark_types.get(col)
            assert st is not None and isinstance(
                st, (T.FloatType, T.DoubleType, T.DecimalType)
            ), (
                f"{name}: oracle column {col!r} is DuckDB {duck_type}, "
                f"which pandas materializes as float64/object, but the "
                f"Spark column is {st.simpleString() if st else 'missing'} "
                "— the driver hash will red the row (42.0 vs 42). Cast "
                "OUTSIDE the aggregate: CAST(SUM(...) AS BIGINT)."
            )
    r = audit(df)
    tree = r.text.split("\n\n", 1)[0]
    assert "CartesianProduct" not in tree, f"{name}: cartesian product"
    allowed = BNLJ_ALLOWANCE.get(name, DEFAULT_BNLJ)
    assert r.nested_loop_joins <= allowed, (
        f"{name}: {r.nested_loop_joins} BroadcastNestedLoopJoins, "
        f"allowance {allowed} — a data-sized BNLJ is quadratic at scale"
    )
    budget = EXCHANGE_BUDGETS.get(name)
    assert budget is not None, (
        f"{name}: no exchange budget — run tools/refresh_exchange_budgets.py "
        "and commit the new entry with the query"
    )
    assert r.shuffle_exchanges <= budget, (
        f"{name}: {r.shuffle_exchanges} shuffle Exchanges, budget {budget} "
        "— a refactor added a shuffle; either remove it or consciously "
        "raise the budget in tests/exchange_budgets.json"
    )
    if name not in GLOBAL_WINDOW_OK:
        # a Window with an EMPTY partition spec serializes its whole
        # input through one task. In executedPlan().toString() the
        # operator prints `Window [exprs], [part], [order]` when
        # partitioned but `Window [exprs], [order]` when not — i.e.
        # exactly one `], [` separator (shape verified empirically;
        # explain("formatted") omits the empty spec entirely, which is
        # why the lint reads the executed plan string instead).
        # Two-bracket-group Window lines are ambiguous: `[exprs],
        # [part]` (partitioned, unordered frame — fine) vs `[exprs],
        # [order]` (GLOBAL ordered window — the single-task shape).
        # Only an ORDER spec carries ASC/DESC tokens, which is how the
        # two are told apart.
        exec_text = df._jdf.queryExecution().executedPlan().toString()
        for line in exec_text.splitlines():
            if re.search(r"\bWindow \[", line) and line.count("], [") == 1:
                tail = line.rsplit("], [", 1)[-1]
                if " ASC" in tail or " DESC" in tail:
                    pytest.fail(
                        f"{name}: partition-less window over undeclared "
                        f"input: {line.strip()[:140]}"
                    )
