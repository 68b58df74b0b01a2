"""History materialization over the CDC envelope: SCD Type-2 and
snapshot+delta MERGE.

The reference routes change events to callbacks and stops there
(lib/walex/event/event.ex:43-122 — no downstream state); these two
operators are what a warehouse consumer of those events builds FIRST:

  scd2_history        — every change becomes a validity-interval row
                        (valid_from/valid_to/is_current), the
                        dimension-table history shape.
  apply_cdc_snapshot  — MERGE the latest change per key onto an
                        existing base snapshot (upsert + delete), the
                        incremental-materialization shape.

Scale posture (100 TB):
  * scd2_history is ONE shuffle — the window partitionBy(key); the
    interval close is a `lead` in the same window pass, no self-join.
  * apply_cdc_snapshot shuffles the changelog once (latest-per-key
    window) and joins base on the same key — a sort-merge join that
    reuses the key partitioning; skew is AQE's job. No broadcast of
    either side: both scale with the data.

Every operator here keys a change by ``transforms.pk_column`` and
orders it by ``transforms.lsn_column`` (then change_idx), through
``_by_key``. A TRUNCATE has no primary key, so these operators (and
their streaming forms, through ``streaming.ivm.prep_delta_input``)
raise on one instead of folding it in as a keyless change;
``transforms.materialize_table_state`` and the ``ParquetStateSink``
built on it are the operators that apply TRUNCATE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from walex_spark.operators.transforms import key_cells, lsn_column, pk_column


def lsn_raising_on_truncate() -> Column:
    """``transforms.lsn_column``, failing the query on a TRUNCATE row."""
    return F.when(
        F.col("op") == "TRUNCATE",
        F.raise_error(
            F.lit(
                "TRUNCATE in a changelog fed to a per-key history operator; "
                "apply it with materialize_table_state or ParquetStateSink"
            )
        ),
    ).otherwise(lsn_column())


def _by_key(df: DataFrame, key_cols: list[str], partition: list[Column] | None = None):
    """``df`` with ``__pk`` (pk_column) and ``__lsn``, and the window
    that orders each key's changes in WAL order. ``partition`` replaces
    ``__pk`` as the window key."""
    keyed = df.withColumn("__lsn", lsn_raising_on_truncate()).withColumn(
        "__pk", pk_column(key_cols)
    )
    w = Window.partitionBy(*(partition or ["__pk"])).orderBy(
        F.col("__lsn").asc(), F.col("change_idx").asc()
    )
    return keyed, w


def scd2_history(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """CDC envelope → SCD Type-2 validity intervals.

    Each INSERT/UPDATE opens a version carrying that event's record;
    the next change for the same key (any op, including DELETE) closes
    it. Output adds:

      valid_from_lsn   — the opening event's 64-bit LSN ordinal
      valid_to_lsn     — the closing event's LSN (NULL = still open)
      closed_by_delete — the closing event was a DELETE
      is_current       — open interval (key's live version)

    DELETE events close the prior version but emit no row themselves;
    a later INSERT for the key re-opens history naturally. Exactly one
    shuffle (the per-key window); `lead` closes intervals in the same
    pass — no self-join, no second shuffle.
    """
    keyed, w = _by_key(df, key_cols)
    nxt_lsn = F.lead(F.col("__lsn")).over(w)
    nxt_op = F.lead(F.col("op")).over(w)
    return (
        keyed.withColumn("valid_to_lsn", nxt_lsn)
        .withColumn("closed_by_delete", F.coalesce(nxt_op == "DELETE", F.lit(False)))
        .filter(F.col("op") != "DELETE")
        .withColumn("valid_from_lsn", F.col("__lsn"))
        .withColumn("is_current", F.col("valid_to_lsn").isNull())
        .drop("__lsn", "__pk")
    )


def apply_cdc_snapshot(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
) -> DataFrame:
    """MERGE the latest change per key onto a base snapshot.

    ``base`` must carry ``key_cols`` and ``value_cols`` as real
    (string-typed) columns; ``changes`` is the canonical envelope with
    the same fields inside its record map. Semantics are MERGE INTO:

      key only in base                → base row survives unchanged
      key in both, latest op ≠ DELETE → change values win
      key in both, latest op = DELETE → row dropped
      key only in changes (≠ DELETE)  → inserted

    Two shuffles total, both on the merge key: the latest-per-key
    window over the changelog, then the full-outer sort-merge join —
    which reuses the window's hash partitioning (no extra exchange for
    the changelog side). Nothing is broadcast: both sides scale.
    """
    keys = [c.alias(k) for c, k in zip(key_cells(key_cols), key_cols)]
    keyed, w = _by_key(changes, key_cols, partition=keys)
    latest = (
        # the key's last change in WAL order is the one with no next
        keyed.withColumn("__last", F.lead(F.lit(True)).over(w).isNull())
        .filter(F.col("__last"))
        .select(
            *keys,
            F.col("op").alias("__op"),
            *[
                F.col("record").getItem(v).alias(f"__new_{v}")
                for v in value_cols
            ],
        )
    )
    merged = base.join(latest, on=key_cols, how="full_outer")
    merged = merged.filter(
        F.col("__op").isNull() | (F.col("__op") != "DELETE")
    )
    out = merged.select(
        *key_cols,
        *[
            F.when(F.col("__op").isNotNull(), F.col(f"__new_{v}"))
            .otherwise(F.col(v))
            .alias(v)
            for v in value_cols
        ],
        F.coalesce(F.col("__op"), F.lit("UNCHANGED")).alias("merge_op"),
    )
    return out


def table_state_as_of(
    df: DataFrame,
    key_cols: list[str],
    as_of_lsn,
) -> DataFrame:
    """Point-in-time snapshot reconstruction ("time travel"): the table
    state as of ``as_of_lsn`` — every change with a later LSN is
    ignored, then latest-per-key wins exactly as in
    materialize_table_state. ``as_of_lsn`` is a 64-bit LSN ordinal or
    a Column (e.g. a broadcast scalar derived from the stream itself).

    The LSN predicate is a plain filter BELOW the per-key shuffle, so
    time travel costs the same single shuffle as the current-state
    materialization — and at 100 TB the filter prunes at the scan when
    the changelog is stored LSN-sorted (parquet min/max row groups).
    """
    from walex_spark.operators.transforms import materialize_table_state

    bounded = df.filter(lsn_column() <= as_of_lsn)
    return materialize_table_state(bounded, key_cols)


def maintain_group_counts(
    df: DataFrame,
    key_cols: list[str],
    group_field: str,
) -> DataFrame:
    """Incremental aggregate (view) maintenance: current-state row
    counts per ``group_field`` computed from the CHANGE LOG via
    +1/-1 deltas, never from a state rebuild.

    Each change emits up to two weighted contributions:
      INSERT/UPDATE  → +1 for the new record's group
      UPDATE/DELETE  → -1 for the row's PREVIOUS group (derived with a
                       per-key lag — pgoutput only ships old tuples
                       under REPLICA IDENTITY FULL, so the previous
                       version is reconstructed from the log itself)
    Summing weights per group equals aggregating the materialized
    current state — the retraction algebra every incremental
    materialized view needs (DELETE decrements, UPDATE moves a unit
    between groups when the grouping value changed).

    Two shuffles: the per-key lag window, then the (tiny) group-keyed
    weight sum with map-side combine. At 100 TB the second shuffle
    carries one int per (partition, group) — the cheap side; only the
    lag pays data-sized cost, and only on backfill (a streaming
    deployment keeps the previous version in state instead).
    """
    keyed, w = _by_key(df, key_cols)
    cur_grp = F.col("record").getItem(group_field)
    # window expressions must be plain columns before the explode — a
    # Generate operator cannot evaluate them inline
    lagged = keyed.withColumn("__prev_grp", F.lag(cur_grp).over(w)).withColumn(
        "__prev_op", F.lag(F.col("op")).over(w)
    )
    prev_live = F.col("__prev_op").isNotNull() & (F.col("__prev_op") != "DELETE")
    contrib = F.array(
        F.when(
            F.col("op").isin("INSERT", "UPDATE"),
            F.struct(cur_grp.alias("grp"), F.lit(1).alias("w")),
        ),
        # ANY change over a live previous version retracts it — incl.
        # a re-INSERT of an existing key, which last-wins state treats
        # as an upsert (CDC streams deliver these on replay/backfill)
        F.when(
            prev_live,
            F.struct(F.col("__prev_grp").alias("grp"), F.lit(-1).alias("w")),
        ),
    )
    deltas = (
        lagged.select(F.explode(contrib).alias("c"))
        .filter(F.col("c").isNotNull())
        .select(F.col("c.grp").alias(group_field), F.col("c.w").alias("w"))
    )
    return (
        deltas.groupBy(group_field)
        .agg(F.sum("w").alias("n_rows"))
        .filter(F.col("n_rows") > 0)
    )


def maintain_group_sums(
    df: DataFrame,
    key_cols: list[str],
    group_field: str,
    measure_field: str,
) -> DataFrame:
    """Incremental SUM (+ count) maintenance per ``group_field`` from
    the changelog — the measure generalization of
    maintain_group_counts' retraction algebra:

      INSERT/UPDATE  → +measure for the new record's group
      change over a live previous version → -previous measure for the
                       previous group (reconstructed via the per-key
                       lag, as for counts)

    The contributions telescope: per key only the live version's
    measure survives, so the group sums equal aggregating the
    materialized state. NULL measures contribute nothing on both the
    +side and the -side, matching SQL SUM's null-skipping. The measure
    is cast to BIGINT — integer retraction is exact; for fractional
    measures scale to integer units first (micro-units), the same rule
    the rolling-window query uses.

    Same two shuffles as the count variant; groups are dropped when
    their maintained row count reaches zero (a dead group with a
    residual null sum must not linger).
    """
    keyed, w = _by_key(df, key_cols)
    cur_grp = F.col("record").getItem(group_field)
    cur_m = F.col("record").getItem(measure_field).cast("bigint")
    lagged = (
        keyed.withColumn("__prev_grp", F.lag(cur_grp).over(w))
        .withColumn("__prev_m", F.lag(cur_m).over(w))
        .withColumn("__prev_op", F.lag(F.col("op")).over(w))
    )
    prev_live = F.col("__prev_op").isNotNull() & (F.col("__prev_op") != "DELETE")
    contrib = F.array(
        F.when(
            F.col("op").isin("INSERT", "UPDATE"),
            F.struct(
                cur_grp.alias("grp"),
                F.lit(1).alias("w"),
                cur_m.alias("m"),
            ),
        ),
        F.when(
            prev_live,
            F.struct(
                F.col("__prev_grp").alias("grp"),
                F.lit(-1).alias("w"),
                (-F.col("__prev_m")).alias("m"),
            ),
        ),
    )
    deltas = (
        lagged.select(F.explode(contrib).alias("c"))
        .filter(F.col("c").isNotNull())
        .select(
            F.col("c.grp").alias(group_field),
            F.col("c.w").alias("w"),
            F.col("c.m").alias("m"),
        )
    )
    return (
        deltas.groupBy(group_field)
        .agg(
            F.sum("w").alias("n_rows"),
            F.sum("m").cast("bigint").alias("sum_measure"),
        )
        .filter(F.col("n_rows") > 0)
    )


def maintain_term_postings(
    df: DataFrame,
    key_cols: list[str],
    text_field: str,
) -> DataFrame:
    """CDC-maintained inverted index: per-term document frequency and
    total term frequency of the CURRENT table state, computed from the
    changelog with retraction algebra — the search-index twin of
    maintain_group_counts, and the bridge from the reference's
    event-routing heritage to the retrieval layer (an indexer is just
    another CDC subscriber).

    Each change contributes token counts of the NEW record's
    ``text_field`` (+) and of the row's PREVIOUS live version (−,
    reconstructed with the same per-key lag maintain_group_counts
    uses): an UPDATE moves its tokens between term buckets, a DELETE
    retracts them, and the per-term sums telescope to exactly the
    postings of the live state.

    Returns (term, n_docs, tf_total), terms with n_docs > 0 or a
    residual tf (defensively both sums are kept exact integers).

    Scale shape: the per-key lag is the only data-sized shuffle (and a
    streaming deployment holds the previous version in state instead);
    token contributions aggregate per (change, term) BEFORE the term
    shuffle, so the wide exchange carries (term, ±tf, ±1) ints —
    never text. Tokenization is the shared whitespace tokenizer.
    """
    from walex_spark.extensions.text import _tokens

    keyed, w = _by_key(df, key_cols)
    cur_text = F.col("record").getItem(text_field)
    lagged = keyed.withColumn("__prev_text", F.lag(cur_text).over(w)).withColumn(
        "__prev_op", F.lag(F.col("op")).over(w)
    )
    prev_live = F.col("__prev_op").isNotNull() & (F.col("__prev_op") != "DELETE")
    plus = lagged.filter(
        F.col("op").isin("INSERT", "UPDATE") & cur_text.isNotNull()
    ).select(
        F.col("__pk"),
        F.col("__lsn"),
        F.col("change_idx"),
        F.lit(1).alias("sign"),
        F.explode(_tokens(cur_text)).alias("term"),
    )
    minus = lagged.filter(prev_live & F.col("__prev_text").isNotNull()).select(
        F.col("__pk"),
        F.col("__lsn"),
        F.col("change_idx"),
        F.lit(-1).alias("sign"),
        F.explode(_tokens(F.col("__prev_text"))).alias("term"),
    )
    # change_idx MUST be a group key: two same-key changes inside one
    # transaction share an LSN, and collapsing their contributions
    # would merge two +1 df marks into one (n_docs off by one per
    # collapsed change)
    per_change = (
        plus.unionByName(minus)
        .groupBy("__pk", "__lsn", "change_idx", "sign", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        per_change.groupBy("term")
        .agg(
            F.sum(F.col("sign")).cast("bigint").alias("n_docs"),
            F.sum(F.col("sign") * F.col("tf")).cast("bigint").alias("tf_total"),
        )
        .filter((F.col("n_docs") > 0) | (F.col("tf_total") > 0))
    )
