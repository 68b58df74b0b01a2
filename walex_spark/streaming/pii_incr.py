"""Incremental (streaming) PII-rate monitor — the foreachBatch twin of
the batch PII scan (extensions/pii.py), completing the monitoring
family next to IncrementalDriftMonitor: micro-batches arrive as
ingestion epochs, each epoch's per-class PII tallies persist as an
append-only metadata index, and every epoch after the first emits one
row PER CLASS comparing its PII rate against the ACCUMULATED baseline
(all prior epochs). This is the production shape of leakage
monitoring: a crawler change or a new source suddenly shipping emails/
phone numbers shows up as a per-class rate spike on the very dump that
introduced it.

Exact-integer surface: the epoch-vs-baseline rate difference for a
class is  delta = hits_e·docs_b − hits_b·docs_e  over the common
denominator docs_e·docs_b — an exact int64 (the drift monitor's
overflow bound applies: ~3e9 docs per side); the single IEEE division
happens at emission. Epoch 0 indexes silently (no baseline).

PER-EPOCH COST CONTRACT: the only corpus-sized work is the epoch's own
detector scan (one `regexp_count` projection + a 6-row fold,
map-side-combinable). The index holds |classes| rows per epoch; the
baseline fold, the join, and the emission are all metadata-sized.

Replay safety (designed in from the start — the r09 drift-twin ADVICE
class): every index row carries its epoch (`ep`) and the baseline
excludes a replayed epoch BY VALUE, so the exclusion survives
compaction folding the epoch's own e-dir into c-<upto>; the e-dir
write is an idempotent overwrite; compaction folds per (class, ep) so
the stamp survives.

FOLD-EQUALS-DEFINITION (pinned by tests/test_pii_incr.py and the
q_doc_pii_incr oracle): epoch e's per-class emission equals the
one-shot comparison of (docs in epoch e) vs (docs in epochs < e)
computed from scratch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from walex_spark.session import empty_frame
from walex_spark.streaming.dedup_incr import (
    _compact_root,
    _epoch_dirs,
    _write_epoch,
)


class IncrementalPIIMonitor:
    """Accumulated per-class PII tally index + per-epoch rate emission."""

    HIST_SCHEMA = (
        "pii_class STRING, hits BIGINT, docs_with BIGINT, "
        "n_docs BIGINT, ep BIGINT"
    )
    BASELINE_SCHEMA = (
        "pii_class STRING, hits BIGINT, docs_with BIGINT, n_docs BIGINT"
    )
    OUT_SCHEMA = (
        "epoch BIGINT, pii_class STRING, epoch_hits BIGINT, "
        "epoch_docs BIGINT, base_hits BIGINT, base_docs BIGINT, "
        "delta_num BIGINT, rate_delta DOUBLE"
    )

    def __init__(
        self,
        index_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        self.index_dir = index_dir
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _hist_root(self) -> str:
        return os.path.join(self.index_dir, "hist")

    def baseline(
        self, spark: SparkSession, exclude_epoch: int | None = None
    ) -> DataFrame:
        """Per-class (hits, docs_with, n_docs) folded over every indexed
        epoch, excluding ``exclude_epoch`` BY VALUE on the ep stamp."""
        dirs = _epoch_dirs(self._hist_root())
        if not dirs:
            return empty_frame(spark, self.BASELINE_SCHEMA)
        hist = spark.read.schema(self.HIST_SCHEMA).parquet(*dirs)
        hist = hist.withColumn(
            "ep", F.coalesce(F.col("ep"), F.lit(-1).cast(T.LongType()))
        )
        if exclude_epoch is not None:
            hist = hist.filter(F.col("ep") != int(exclude_epoch))
        return hist.groupBy("pii_class").agg(
            F.sum("hits").cast(T.LongType()).alias("hits"),
            F.sum("docs_with").cast(T.LongType()).alias("docs_with"),
            F.sum("n_docs").cast(T.LongType()).alias("n_docs"),
        )

    def compact(self, spark: SparkSession) -> bool:
        return _compact_root(
            spark,
            self._hist_root(),
            self.HIST_SCHEMA,
            agg=lambda df: df.withColumn(
                "ep", F.coalesce(F.col("ep"), F.lit(-1).cast(T.LongType()))
            )
            .groupBy("pii_class", "ep")
            .agg(
                F.sum("hits").cast(T.LongType()).alias("hits"),
                F.sum("docs_with").cast(T.LongType()).alias("docs_with"),
                F.sum("n_docs").cast(T.LongType()).alias("n_docs"),
            )
            .select("pii_class", "hits", "docs_with", "n_docs", "ep"),
        )

    def _epoch_hist(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """ONE detector scan of the epoch (a single aggregate over the
        pii_signals projection — the drift monitor's one-scan
        discipline), unpivoted to |classes| rows via stack()."""
        from walex_spark.extensions.pii import PII_PATTERNS, pii_signals

        sig = pii_signals(batch_df, self.text_col, self.id_col)
        aggs = [F.count(F.lit(1)).cast(T.LongType()).alias("nd")]
        for name, _, _ in PII_PATTERNS:
            aggs.append(
                F.coalesce(F.sum(f"n_{name}"), F.lit(0))
                .cast(T.LongType())
                .alias(f"h_{name}")
            )
            aggs.append(
                F.coalesce(
                    F.sum((F.col(f"n_{name}") > 0).cast(T.LongType())),
                    F.lit(0),
                )
                .cast(T.LongType())
                .alias(f"d_{name}")
            )
        one = sig.agg(*aggs)
        stack_args = ", ".join(
            f"'{name}', h_{name}, d_{name}" for name, _, _ in PII_PATTERNS
        )
        return one.selectExpr(
            f"stack({len(PII_PATTERNS)}, {stack_args})"
            " AS (pii_class, hits, docs_with)",
            "nd AS n_docs",
        ).withColumn("ep", F.lit(int(epoch_id)).cast(T.LongType()))

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's per-class tallies; return one emission row
        per class (empty for the first processed epoch)."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._hist_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        from walex_spark.streaming.drift_incr import _had_baseline

        had_baseline = _had_baseline(
            self, spark, self._hist_root(), epoch_id
        )
        # the 6-row detector fold of a potentially large epoch: compute
        # ONCE (lazy localCheckpoint) — the index write materializes it
        # and the emission reuses it from memory, no read-back scan
        hist_new = self._epoch_hist(batch_df, epoch_id).localCheckpoint(
            eager=False
        )
        _write_epoch(hist_new, self._hist_root(), epoch_id)
        if not had_baseline:
            return empty_frame(spark, self.OUT_SCHEMA)
        ep = hist_new.select(
            "pii_class",
            F.col("hits").alias("epoch_hits"),
            F.col("n_docs").alias("epoch_docs"),
        )
        base = self.baseline(spark, exclude_epoch=epoch_id).select(
            "pii_class",
            F.col("hits").alias("base_hits"),
            F.col("n_docs").alias("base_docs"),
        )
        delta = F.col("epoch_hits") * F.col("base_docs") - F.col(
            "base_hits"
        ) * F.col("epoch_docs")
        return (
            ep.join(base, "pii_class")  # both sides |classes| rows
            .select(
                F.lit(int(epoch_id)).cast(T.LongType()).alias("epoch"),
                "pii_class",
                "epoch_hits",
                "epoch_docs",
                "base_hits",
                "base_docs",
                delta.cast(T.LongType()).alias("delta_num"),
                (
                    delta.cast(T.DoubleType())
                    / (
                        F.col("epoch_docs").cast(T.DoubleType())
                        * F.col("base_docs").cast(T.DoubleType())
                    )
                ).alias("rate_delta"),
            )
        )
