"""Plan-shape regression tests: the scale contract of the headline
queries, pinned (see walex_spark/plans/audit.py). Data size is
irrelevant — these assert what Catalyst plans, not what it computes —
so sf0.001 keeps them fast."""

import re

import pytest

from walex_spark.plans import audit
from walex_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reports(spark):
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = audit(Q.QUERIES[name](spark, SF_DIR))
        return cache[name]

    return get


def test_q01_scan_pruned_and_pushed(reports):
    r = reports("q01_pricing_summary")
    scan = r.scan_for("lineitem")
    # date filter reaches the parquet reader
    assert any("l_shipdate" in f for f in scan.pushed_filters)
    # column pruning: 7 of 11 lineitem columns read
    assert set(scan.read_columns) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }
    # partial agg map-side -> exactly one shuffle on the group keys
    assert r.shuffle_exchanges == 1
    assert "partial_sum" in r.text


def test_q07_bounded_dims_broadcast(reports):
    r = reports("q07_nation_volume")
    # the two nation projections broadcast; scaled tables
    # (orders/customer/supplier) are left to AQE — at sf0.001 runtime
    # stats will broadcast them too, at 100 TB they sort-merge join
    assert r.broadcast_hash_joins >= 2
    # nation IN-filters pushed into the dim scans
    for s in r.scans:
        if "nation" in s.location:
            assert any("n_name" in f for f in s.pushed_filters)


# the 100 TB contract: with size-based auto-broadcast disabled, the only
# broadcasts left in a plan are hint-forced — and every hint must sit on
# a bounded input (nation/region: fixed 25/5 rows; one-row aggregates).
# A hint on orders/customer/supplier/part would show up as an extra
# BroadcastExchange here and is a guaranteed OOM at scale.
HINT_BUDGET = {
    "q03_shipping_priority": 0,
    "q05_region_volume": 2,      # nation + region
    "q07_nation_volume": 2,      # 2x nation projection
    "q08_market_share": 1,       # nation
    "q09_profit_by_nation": 1,   # nation
    "q10_returned_items": 1,     # nation
    "q11_important_parts": 1,    # one-row total
    "q14_promo_share": 0,
    "q15_top_supplier": 1,       # one-row max
    "q16_supplier_counts": 0,
    "q18_large_orders": 0,
    "q19_disjunctive_revenue": 0,
    "q20_part_stock_suppliers": 1,  # nation
    "q21_sole_late_supplier": 0,
    "q22_idle_customers": 1,     # one-row avg
}


@pytest.mark.parametrize("name", sorted(HINT_BUDGET))
def test_no_broadcast_hint_on_scaled_tables(spark, name):
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        r = audit(Q.QUERIES[name](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert r.broadcast_exchanges == HINT_BUDGET[name], (
        f"{name}: {r.broadcast_exchanges} hint-forced broadcasts, "
        f"expected {HINT_BUDGET[name]} — a hint on a data-scaled table "
        "OOMs at 100 TB"
    )


def test_q19_common_filters_pushed_below_join(reports):
    r = reports("q19_disjunctive_revenue")
    part = r.scan_for("part")
    # the brand disjunction collapses to an Or pushed into the part scan
    assert any("p_brand" in f for f in part.pushed_filters)
    li = r.scan_for("lineitem")
    # quantity bounds common to all branches reach the fact scan
    assert any("l_quantity" in f for f in li.pushed_filters)


def test_exact_dedup_single_shuffle(reports):
    r = reports("q_doc_exact_dedup")
    assert r.shuffle_exchanges == 1
    assert r.sort_merge_joins == 0
    scan = r.scan_for("documents")
    # only text + doc_id read, not the whole table
    assert set(scan.read_columns) == {"text", "doc_id"}


def test_cdc_latest_state_single_shuffle(reports):
    # R10 materialization: one exchange on the PK partitioning
    r = reports("q_cdc_latest_state")
    assert r.shuffle_exchanges <= 2  # pk window + final projection agg if any


def test_brute_force_topk_broadcasts_queries(reports):
    r = reports("q_emb_cosine_topk")
    # the query side broadcasts; the corpus is never shuffled pre-join
    assert r.nested_loop_joins == 1
    assert r.broadcast_exchanges >= 1


def test_simhash_single_early_shuffle(reports):
    """partition_by_doc contract: the one exchange sits BELOW the
    tokenize/explode fan-out (raw text shuffles, exploded tokens never
    do), and the distinct + 32 bit-sums fuse shuffle-free above it."""
    r = reports("q_doc_simhash")
    assert r.shuffle_exchanges == 1
    # the exchange is the explicit doc-id repartition, not an
    # aggregation exchange: it hashes doc_id only
    assert "REPARTITION_BY_NUM" in r.text
    # explode runs above the exchange: Generate must not appear before
    # the Exchange in the tree walk (tree prints top-down, so the
    # exchange string must come AFTER Generate textually)
    tree = r.text.split("\n\n", 1)[0]
    gen_pos = tree.index("Generate")
    ex_pos = tree.index("Exchange")
    assert ex_pos > gen_pos, "explode fan-out must sit above the shuffle"


def test_minhash_shuffles_bounded(reports):
    """MinHash+LSH: doc-id repartition + band-bucket self-join
    exchanges and the final distinct — but never a shuffle of the
    exploded shingle stream (the signature agg reuses the doc-id
    partitioning)."""
    r = reports("q_doc_minhash_pairs")
    # 1 repartition + 2 join sides + distinct-ish; allow AQE variance
    assert r.shuffle_exchanges <= 4
    assert "partial_min" in r.text, "signature mins must map-side combine"


def test_ann_lsh_equi_join_on_bucket(reports):
    """The scale contract of LSH ANN: candidates meet via an equi-join
    on the bucket key — never a nested-loop cross product."""
    for name in ("q_emb_ann_lsh", "q_emb_ann_multiprobe"):
        r = reports(name)
        assert r.nested_loop_joins == 0, f"{name} fell back to cross product"


def test_ann_ivf_candidate_join_is_equi(reports):
    """IVF: the only nested-loop joins are the two cell-assignment
    broadcasts over the n_cells-row centroid table (bounded fan-out by
    construction); candidates must meet via the cell_id equi-join,
    never a corpus cross product."""
    r = reports("q_emb_ann_ivf")
    assert r.nested_loop_joins <= 2
    assert r.broadcast_exchanges >= 1


def test_pgoutput_stamp_is_a_broadcast_carry(reports):
    """Transaction stamping has no window and no shuffle: the decoded
    rows meet the carry across runs (one row per run) in a broadcast
    equi-join on the run."""
    r = reports("q_cdc_pgoutput_decode")
    tree = r.text.split("\n\n", 1)[0]
    assert "Window" not in r.text
    assert r.nested_loop_joins == 0
    assert "BroadcastHashJoin" in tree and r.broadcast_exchanges == 1
    assert r.shuffle_exchanges == 0


def test_pgoutput_decode_runs_without_exchange(spark, tmp_path):
    """A stream stored as files that each hold a contiguous frame_idx
    range decodes with no exchange: decode_frames walks each file as
    one run, and decode_envelope runs one Spark job (the END-row
    collect that fills the decoded rows' checkpoint). The carry across
    runs is a driver-local LocalRelation, not a Python RDD whose
    broadcast would run Python tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from walex_spark.sources.pgoutput import (
        collect_registry,
        decode_envelope,
        decode_frames,
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )

    payloads = [encode_relation(1, "user", [("id", 23, True)])]
    for t in range(6):
        payloads += [encode_begin(100 + t, 0, 700 + t), encode_insert(1, [str(t)]),
                     encode_insert(1, [str(10 + t)]), encode_commit(100 + t, 0)]
    paths = []
    for k in range(5):  # 5 frames per file: transactions cross files
        chunk = list(enumerate(payloads))[5 * k:5 * k + 5]
        paths.append(str(tmp_path / f"frames-{k}.parquet"))
        pq.write_table(pa.table({
            "frame_idx": pa.array([i for i, _ in chunk], pa.int64()),
            "payload": pa.array([p for _, p in chunk], pa.binary()),
        }), paths[-1])
    frames = spark.read.schema("frame_idx long, payload binary").parquet(*paths)
    registry = collect_registry(frames)

    r = audit(decode_frames(frames, registry))
    assert r.shuffle_exchanges == 0 and r.broadcast_exchanges == 0

    sc = spark.sparkContext
    group = "pgoutput-decode-jobs"
    sc.setJobGroup(group, "decode_envelope job count")
    try:
        env = decode_envelope(frames, registry)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    plan = env._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert plan.count("LogicalRDD") == 1  # the decoded rows' checkpoint
    assert env.count() == 12


def test_scd2_single_shuffle(reports):
    """SCD2 contract: one exchange (the per-key window); the interval
    close is a lead in the same pass — no self-join, no second
    shuffle."""
    r = reports("q_cdc_scd2")
    assert r.shuffle_exchanges == 1
    assert r.sort_merge_joins == 0 and r.nested_loop_joins == 0


def test_apply_deltas_key_partitioned_merge(reports):
    """MERGE contract: latest-per-key window + full-outer join, both on
    the merge key; neither side is broadcast (both scale with data)."""
    r = reports("q_cdc_apply_deltas")
    assert r.broadcast_exchanges == 0
    assert r.nested_loop_joins == 0
    assert r.shuffle_exchanges <= 3  # changelog window + two join sides


def test_normalize_zero_shuffle(reports):
    r = reports("q_doc_normalize")
    assert r.shuffle_exchanges == 0


def test_profile_exact_vs_approx_expand(spark):
    """The documented trade: exact=True replicates the input through
    Spark's Expand (fine at oracle SF, wrong at 100 TB); the default
    HLL path must plan a single ordinary aggregate — no Expand, one
    shuffle of sketch bytes."""
    from walex_spark.extensions.profile import profile_columns
    from walex_spark.plans import audit

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cols = ["o_orderkey", "o_orderstatus"]
    exact = audit(profile_columns(df, cols, exact=True))
    approx = audit(profile_columns(df, cols))
    assert "Expand" in exact.text
    assert "Expand" not in approx.text
    assert approx.shuffle_exchanges == 1


def test_simhash_pairs_equi_join_on_band(reports):
    """SimHash pairing: candidates meet via the (band, key) equi-join —
    never a nested-loop cross product — and the Hamming verify is a
    post-join filter on the already-matched row."""
    r = reports("q_doc_simhash_pairs")
    assert r.nested_loop_joins == 0


def test_pq_adc_joins_are_equi(reports):
    """PQ/ADC: codebook assignment and LUT scoring meet via equi-joins
    (m / (m, code)) against metadata-sized broadcast tables — never a
    corpus cross product; the corpus moves only as (vid, m, code)."""
    r = reports("q_emb_ann_pq")
    assert r.nested_loop_joins == 0
    assert r.broadcast_exchanges >= 1


def test_ivfpq_candidates_are_cell_bounded(reports):
    """IVF-PQ: candidate generation is the cell_id equi-join; the only
    nested-loop joins are the bounded centroid-table broadcasts of the
    cell assignment (same budget as q_emb_ann_ivf)."""
    r = reports("q_emb_ann_ivfpq")
    assert r.nested_loop_joins <= 2


def test_bm25_filters_terms_before_shuffle(reports):
    """BM25: the exploded token stream narrows to the query's terms via
    a map-side IN filter below every exchange — the corpus long tail
    never shuffles — and the final top-k is a TakeOrdered, not a
    single-partition window over the corpus."""
    r = reports("q_doc_bm25")
    assert "TakeOrderedAndProject" in r.text
    # the only nested-loop join is the ONE-ROW corpus-stats broadcast
    # (metadata-sized, the standard bounded-dim budget)
    assert r.nested_loop_joins <= 1


def test_global_index_one_data_shuffle_no_data_window(reports):
    """global_sorted_index: exactly one RangePartitioning exchange for
    the data; the only window runs over the per-partition metadata
    frame (SinglePartition), never over the corpus."""
    r = reports("q_doc_global_shuffle")
    assert len(re.findall(r"rangepartitioning", r.text, re.I)) >= 1
    # the data-side rank comes from monotonically_increasing_id, not a
    # corpus-wide row_number
    assert "monotonically_increasing_id" in r.text


def test_ann_sq8_codebook_folded_and_broadcast(reports):
    """SQ8: the per-dim codebook ships as constant-folded literals (no
    from_json left in the executed plan tree) and the query side
    broadcasts — the corpus never shuffles for candidate scoring."""
    r = reports("q_emb_ann_sq8")
    assert r.broadcast_exchanges >= 1
    assert "from_json" not in r.text.split("\n\n", 1)[0]


def test_duplicate_spans_no_cross_product(reports):
    r = reports("q_doc_dup_spans")
    assert r.nested_loop_joins == 0


def test_pipeline_e2e_single_content_shuffle_gate(reports):
    """The e2e pipeline stays filter-shaped: the only nested-loop join
    is the one-row min-count broadcast inside temperature mixing; the
    rate tables are broadcast."""
    r = reports("q_doc_pipeline_e2e")
    assert r.nested_loop_joins <= 1
    assert r.broadcast_exchanges >= 1


def test_range_agg_twolevel_no_cross_product(reports):
    """Two-level range aggregation: summary and boundary joins are
    bucket equi-joins (no BroadcastNestedLoopJoin — the shape the
    naive BETWEEN aggregate would plan)."""
    r = reports("q_range_agg_twolevel")
    assert r.nested_loop_joins == 0


def test_winnow_pairs_equi_join_partitioned_window(reports, spark):
    """Winnowing: the fingerprint self-join is an equi-join on fp_hash
    (no cross product), and the selection window is partitioned per
    doc — a global ordered window here would serialize the corpus.

    Since r12 the candidate join consumes the fingerprint set through
    a localCheckpoint (one execution for its four consumers), so the
    query plan shows an ExistingRDD scan and the window must be
    audited on the fingerprint BUILDER's plan, where it lives."""
    r = reports("q_doc_winnow_pairs")
    assert r.nested_loop_joins == 0
    from walex_spark.extensions import dedup as dd

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rf = audit(dd.winnow_fingerprints(docs, k=16, window=8, positions=False))
    windows = re.findall(r"Arguments: \[.*?windowspecdefinition\((.*?)\)",
                         rf.text)
    assert windows, "expected a Window node in the fingerprint plan"
    for spec in windows:
        assert "id#" in spec.split("ASC")[0]


def test_prefix_jaccard_no_cross_product_no_window(reports):
    """Prefix filtering: candidate generation is an equi-join on the
    prefix token; verification is per-pair array_intersect. No nested
    loops and no GLOBAL window/sort — the per-token document frequency
    is a count over Window.partitionBy(token) (keyed, skew-bounded by
    the token's own df), and the rarest-first order is computed per
    doc via array_sort. Any window whose partition spec is empty or
    keyed by something other than the token would serialize the
    corpus."""
    r = reports("q_doc_prefix_jaccard")
    assert r.nested_loop_joins == 0
    # the by-token df window runs INSIDE the localCheckpoint subtree,
    # so the audited (downstream) plan must show no window at all —
    # a windowspecdefinition appearing here would mean a global rank
    # crept into the candidate/verify stages
    assert "windowspecdefinition" not in r.text
    assert "array_intersect" in r.text


def test_stats_regression_single_aggregate_pass(reports):
    """Grouped OLS: all five moments in one partial+final aggregate —
    exactly one shuffle (on the group keys), no joins at all."""
    r = reports("q_stats_regression")
    assert r.shuffle_exchanges == 1
    assert r.nested_loop_joins == 0
    assert r.sort_merge_joins == 0
    assert r.broadcast_hash_joins == 0
    assert "partial_sum" in r.text or "partial_count" in r.text


def test_despan_bounds_narrow_text_joins_once(reports):
    """Span removal: segment bounds come from the narrow span rows;
    the document text enters exactly TWO id equi-joins (substr lookup
    + final passthrough) — never a nested loop. The span pipeline
    itself sits behind its lazy checkpoint, so the visible plan is
    exactly the bounds/stitch shape being pinned here."""
    r = reports("q_doc_despan")
    assert r.nested_loop_joins == 0
    # text enters exactly the two equi-joins, nothing else
    assert r.sort_merge_joins + r.broadcast_hash_joins == 2
    # exactly two documents scans, each pruned to (doc_id, text)
    doc_scans = [s for s in r.scans if "documents" in s.location]
    assert len(doc_scans) == 2
    for s in doc_scans:
        assert set(s.read_columns) == {"doc_id", "text"}
    # every window is per-doc partitioned (the heads lag) — a global
    # ordered window here would serialize the corpus
    for spec in re.findall(r"windowspecdefinition\((.*?)\)", r.text):
        assert spec.lstrip().startswith("doc_id#")
