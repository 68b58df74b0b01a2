"""History materialization over the CDC envelope: SCD Type-2,
snapshot+delta MERGE and incrementally maintained aggregates.

The reference routes change events to callbacks and stops there
(lib/walex/event/event.ex:43-122 — no downstream state); these
operators are what a warehouse consumer of those events builds FIRST:

  scd2_history        — every change becomes a validity-interval row
                        (valid_from/valid_to/is_current), the
                        dimension-table history shape.
  apply_cdc_snapshot  — MERGE the latest change per key onto an
                        existing base snapshot (upsert + delete), the
                        incremental-materialization shape.
  maintain_group_counts / maintain_group_sums / maintain_term_postings
                      — current-state aggregates summed from the
                        live-version fold below, never from a state
                        rebuild.

Every operator here, and its streaming form (``streaming.ivm``), keys
and orders a change through ``transforms.by_row_key``, the one row
identity of the per-key operators: a row is ``(schema, table, primary
key)``, its changes apply in ``(lsn, change_idx)`` order, a
key-changing UPDATE is split into a DELETE of the old key and the
UPDATE of the new one, and a TRUNCATE, which has no primary key, fails
the query instead of folding in as a keyless change
(``transforms.materialize_table_state`` and the ``ParquetStateSink``
built on it are the operators that apply it).

The live-version fold (``_signed_versions``; its streaming form is
``streaming.ivm.live_version_stream``): per row in WAL order, every
INSERT/UPDATE installs a live version (+1 row with its payload), and
every change over a live previous version — UPDATE, DELETE, or a
re-INSERT, which last-wins state treats as an upsert — retracts that
version (-1 row with the previous payload). Summing a payload's signs
telescopes to the live state: the retraction algebra every incremental
materialized view needs. pgoutput ships old tuples only under REPLICA
IDENTITY FULL, so the previous version comes from the log itself.

Scale posture (100 TB):
  * scd2_history and the fold are ONE shuffle each — the window
    partitionBy(row key); the interval close is a `lead` and the
    retraction a `lag` in the same window pass, no self-join. The
    aggregates add one group-keyed shuffle of ints.
  * apply_cdc_snapshot shuffles the changelog once (latest-per-key
    window) and joins base on the same key — a sort-merge join that
    reuses the key partitioning; skew is AQE's job. No broadcast of
    either side: both scale with the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from walex_spark.operators.transforms import (
    ROW_KEY,
    by_row_key,
    key_cells,
    lsn_column,
)


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
    keyed, w = by_row_key(df, key_cols, applied=True)
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

    ``changes`` are one table's: the changelog is keyed by the key
    cells alone, so its partitioning is the merge key's. Two shuffles
    total, both on the merge key: the latest-per-key window over the
    changelog, then the full-outer sort-merge join —
    which reuses the window's hash partitioning (no extra exchange for
    the changelog side). Nothing is broadcast: both sides scale.
    """
    keys = [c.alias(k) for c, k in zip(key_cells(key_cols), key_cols)]
    keyed, w = by_row_key(changes, key_cols, applied=True, partition=keys)
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


def _signed_versions(df: DataFrame, key_cols: list[str], payload: Column) -> DataFrame:
    """The live-version fold (module doc): ``(*ROW_KEY, __lsn,
    change_idx, sign, payload)`` with a +1 row per installed version
    and a -1 row per retracted one. One shuffle, the per-row window;
    the -1 rows come from a ``lag`` in the same pass and leave in the
    same ``explode`` as the +1 rows, so the output keeps the row-key
    partitioning."""
    keyed, w = by_row_key(df, key_cols, applied=True)
    # window expressions must be plain columns before the explode — a
    # Generate operator cannot evaluate them inline
    lagged = keyed.select(
        *ROW_KEY,
        "__lsn",
        "change_idx",
        F.col("op"),
        payload.alias("__cur"),
        F.lag(payload).over(w).alias("__prev"),
        F.lag(F.col("op")).over(w).alias("__prev_op"),
    )
    prev_live = F.col("__prev_op").isNotNull() & (F.col("__prev_op") != "DELETE")
    signed = F.array(
        F.when(
            F.col("op") != "DELETE",
            F.struct(F.lit(1).alias("sign"), F.col("__cur").alias("payload")),
        ),
        F.when(
            prev_live,
            F.struct(F.lit(-1).alias("sign"), F.col("__prev").alias("payload")),
        ),
    )
    fold_key = [*ROW_KEY, "__lsn", "change_idx"]
    return (
        lagged.select(*fold_key, F.explode(signed).alias("v"))
        .filter(F.col("v").isNotNull())
        .select(*fold_key, "v.sign", "v.payload")
    )


def maintain_group_counts(
    df: DataFrame,
    key_cols: list[str],
    group_field: str,
) -> DataFrame:
    """Incremental aggregate (view) maintenance: current-state row
    counts per ``group_field``, summed from the live-version fold's
    signs (payload: the version's group) — never from a state rebuild.
    DELETE decrements; an UPDATE moves a unit between groups when the
    grouping value changed.

    Two shuffles: the fold's per-key window, then the (tiny)
    group-keyed sum with map-side combine, which carries one int per
    (partition, group).
    """
    grp = F.col("record").getItem(group_field)
    return (
        _signed_versions(df, key_cols, grp)
        .groupBy(F.col("payload").alias(group_field))
        .agg(F.sum("sign").alias("n_rows"))
        .filter(F.col("n_rows") > 0)
    )


def maintain_group_sums(
    df: DataFrame,
    key_cols: list[str],
    group_field: str,
    measure_field: str,
) -> DataFrame:
    """Incremental SUM (+ count) maintenance per ``group_field``: the
    live-version fold with the version's (group, measure) as payload,
    summed per group as ``sign * measure``.

    Per key only the live version's measure survives, so the group
    sums equal aggregating the materialized state. NULL measures
    contribute nothing on either side, matching SQL SUM's
    null-skipping. The measure is cast to BIGINT — integer retraction
    is exact; for fractional measures scale to integer units first
    (micro-units), the same rule the rolling-window query uses.

    Same two shuffles as the count variant; groups are dropped when
    their maintained row count reaches zero (a dead group with a
    residual null sum must not linger).
    """
    rec = F.col("record")
    version = F.struct(
        rec.getItem(group_field).alias("grp"),
        rec.getItem(measure_field).cast("bigint").alias("m"),
    )
    return (
        _signed_versions(df, key_cols, version)
        .groupBy(F.col("payload.grp").alias(group_field))
        .agg(
            F.sum("sign").alias("n_rows"),
            F.sum(F.col("sign") * F.col("payload.m")).cast("bigint").alias("sum_measure"),
        )
        .filter(F.col("n_rows") > 0)
    )


def maintain_term_postings(
    df: DataFrame,
    key_cols: list[str],
    text_field: str,
) -> DataFrame:
    """CDC-maintained inverted index: per-term document frequency and
    total term frequency of the CURRENT table state — the search-index
    twin of maintain_group_counts, and the bridge from the reference's
    event-routing heritage to the retrieval layer (an indexer is just
    another CDC subscriber).

    The live-version fold's payload is the version's ``text_field``;
    each signed version contributes its token counts with its sign, so
    an UPDATE moves its tokens between term buckets, a DELETE retracts
    them, and the per-term sums telescope to exactly the postings of
    the live state.

    Returns (term, n_docs, tf_total), terms with n_docs > 0 or a
    residual tf (defensively both sums are kept exact integers).

    Scale shape: the fold's per-key window is the only data-sized
    shuffle; token counts aggregate per (version, term) on the fold's
    key partitioning, so the wide exchange carries (term, ±tf, ±1)
    ints — never text. Tokenization is the shared whitespace
    tokenizer.
    """
    from walex_spark.extensions.text import _tokens

    versions = _signed_versions(df, key_cols, F.col("record").getItem(text_field))
    # change_idx and sign MUST be group keys: two same-row changes
    # inside one transaction share an LSN, and one change both
    # retracts and installs; collapsing either would merge two df
    # marks into one
    version = [*ROW_KEY, "__lsn", "change_idx", "sign"]
    per_version = (
        versions.select(*version, F.explode(_tokens(F.col("payload"))).alias("term"))
        .groupBy(*version, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        per_version.groupBy("term")
        .agg(
            F.sum(F.col("sign")).cast("bigint").alias("n_docs"),
            F.sum(F.col("sign") * F.col("tf")).cast("bigint").alias("tf_total"),
        )
        .filter((F.col("n_docs") > 0) | (F.col("tf_total") > 0))
    )
