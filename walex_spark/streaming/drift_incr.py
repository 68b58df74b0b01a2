"""Incremental (streaming) twin of the PSI drift monitor
(extensions/text.py::source_drift_psi): micro-batches arrive as
ingestion epochs, the per-bucket token-count histogram of every past
epoch persists as an append-only parquet index, and each epoch emits
ONE row — its PSI against the ACCUMULATED baseline (all prior
epochs). This is the production shape of drift monitoring: the alarm
compares "this dump" to "everything ingested before it", per
microbatch, as data lands.

Differences from the batch operator, by design:

  - the comparison is epoch-vs-prior-prefix instead of
    slice-vs-whole-corpus, so the epoch CAN introduce buckets the
    baseline never saw: the log factor saturates at +61 there
    (symmetric to the batch operator's -61 for buckets the slice
    misses — both are the half_bits clamp);
  - epoch 0 has an empty baseline; PSI against nothing is undefined,
    so epoch 0 indexes its histogram and emits NO row (the silent
    first dump every monitoring system has).

PER-EPOCH COST CONTRACT: the only corpus-sized work is the epoch's
own bucket map + count aggregate (epoch-sized, map-side combinable).
Everything else — the baseline fold, the scoring grid, the emission —
is n_buckets-sized METADATA (n_buckets is a constructor constant), so
state and per-epoch overhead are O(1) in corpus size: the cheapest
index in the streaming family. Replay safety: the epoch's histogram
dir is overwritten idempotently, every histogram row is stamped with
its epoch (``ep``), and the baseline read excludes the epoch BY VALUE
— not by dir basename — so a crashed-and-replayed epoch whose first
attempt was already folded into a compacted ``c-<upto>`` dir still
never pre-seeds its own baseline (the r09 ADVICE replay×compaction
interleaving). Legacy index rows written before the ``ep`` column
existed read back NULL and are coalesced to -1: unconditionally
"older than any epoch", i.e. always baseline, never excluded.

FOLD-EQUALS-DEFINITION (pinned by tests/test_drift_incr.py): epoch
e's emission equals the one-shot PSI of (docs in epoch e) vs (docs in
epochs < e) computed from scratch — the registry oracle spells that
definition in SQL over a doc_id mod-3 epoch split.
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
    _manifest_upto,
    _write_epoch,
)


def _had_baseline(
    mon, spark: SparkSession, hist_root: str, epoch_id: int
) -> bool:
    """Does the index hold rows from any OTHER epoch? When no compacted
    dir exists every epoch still lives in its own e-dir, so the free
    basename test is exact and costs no Spark job; once a c-dir exists
    a replayed epoch's rows may hide inside it, and only the ep-stamped
    value-level read (metadata-sized) answers correctly."""
    dirs = _epoch_dirs(hist_root)
    if not dirs:
        return False
    if _manifest_upto(hist_root) < 0:
        return any(
            os.path.basename(d) != f"e-{epoch_id}" for d in dirs
        )
    return mon.baseline(spark, exclude_epoch=epoch_id).limit(1).count() > 0


class IncrementalDriftMonitor:
    """Accumulated bucket-histogram index + per-epoch PSI emission."""

    HIST_SCHEMA = "bucket BIGINT, n BIGINT, ep BIGINT"
    BASELINE_SCHEMA = "bucket BIGINT, n BIGINT"

    def __init__(
        self,
        index_dir: str,
        bucket_width: int = 10,
        n_buckets: int = 15,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        self.index_dir = index_dir
        self.bucket_width = int(bucket_width)
        self.n_buckets = int(n_buckets)
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _hist_root(self) -> str:
        return os.path.join(self.index_dir, "hist")

    def baseline(
        self, spark: SparkSession, exclude_epoch: int | None = None
    ) -> DataFrame:
        """(bucket, n) folded over every indexed epoch — excluding
        ``exclude_epoch``'s rows BY VALUE on the ``ep`` stamp, so the
        exclusion holds even after compaction folded that epoch's dir
        into ``c-<upto>`` (where a basename test cannot see it).
        Legacy rows without the stamp coalesce to ep=-1 and are always
        part of the baseline."""
        dirs = _epoch_dirs(self._hist_root())
        if not dirs:
            return empty_frame(spark, self.BASELINE_SCHEMA)
        hist = spark.read.schema(self.HIST_SCHEMA).parquet(*dirs)
        hist = hist.withColumn(
            "ep", F.coalesce(F.col("ep"), F.lit(-1).cast(T.LongType()))
        )
        if exclude_epoch is not None:
            hist = hist.filter(F.col("ep") != int(exclude_epoch))
        return hist.groupBy("bucket").agg(
            F.sum("n").cast(T.LongType()).alias("n")
        )

    def compact(self, spark: SparkSession) -> bool:
        # partial histograms fold additively PER EPOCH — the ep stamp
        # must survive compaction so baseline() can keep excluding a
        # replayed epoch by value; the folded state stays metadata-sized
        # (n_buckets x n_epochs rows)
        return _compact_root(
            spark,
            self._hist_root(),
            self.HIST_SCHEMA,
            agg=lambda df: df.withColumn(
                "ep", F.coalesce(F.col("ep"), F.lit(-1).cast(T.LongType()))
            )
            .groupBy("bucket", "ep")
            .agg(F.sum("n").cast(T.LongType()).alias("n"))
            .select("bucket", "n", "ep"),
        )

    def _epoch_hist(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        from walex_spark.extensions.text import _tokens

        return (
            batch_df.select(
                F.least(
                    F.floor(
                        F.size(_tokens(F.col(self.text_col)))
                        / F.lit(self.bucket_width)
                    ),
                    F.lit(self.n_buckets - 1),
                )
                .cast(T.LongType())
                .alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast(T.LongType()).alias("n"))
            .withColumn("ep", F.lit(int(epoch_id)).cast(T.LongType()))
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's histogram; return the epoch's PSI row
        (epoch, n_docs, baseline_docs, buckets_hit, zero_buckets,
        new_buckets, psi_num, psi_half_bits) — empty for the first
        processed epoch (no baseline to compare against)."""
        from walex_spark.extensions.search import half_bits

        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._hist_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        had_baseline = _had_baseline(
            self, spark, self._hist_root(), epoch_id
        )
        # checkpoint the epoch's (metadata-sized) histogram once — the
        # index write and the PSI emission share it instead of a
        # write-then-read-back round trip
        hist_new = self._epoch_hist(batch_df, epoch_id).localCheckpoint(
            eager=False
        )
        _write_epoch(hist_new, self._hist_root(), epoch_id)
        out_schema = (
            "epoch BIGINT, n_docs BIGINT, baseline_docs BIGINT, "
            "buckets_hit BIGINT, zero_buckets BIGINT, new_buckets BIGINT, "
            "psi_num BIGINT, psi_half_bits DOUBLE"
        )
        if not had_baseline:
            return empty_frame(spark, out_schema)
        ep = hist_new.select("bucket", F.col("n").alias("a"))
        base = self.baseline(spark, exclude_epoch=epoch_id).select(
            "bucket", F.col("n").alias("b")
        )
        grid = (
            ep.join(base, "bucket", "full")
            .select(
                "bucket",
                F.coalesce(F.col("a"), F.lit(0)).alias("a"),
                F.coalesce(F.col("b"), F.lit(0)).alias("b"),
            )
            .localCheckpoint(eager=False)
        )
        tot = grid.agg(
            F.sum("a").cast(T.LongType()).alias("sa"),
            F.sum("b").cast(T.LongType()).alias("cb"),
        )
        g = grid.join(F.broadcast(tot))
        ab = F.col("a") * F.col("cb")
        ba = F.col("b") * F.col("sa")
        hb = (
            F.when(F.col("a") == 0, F.lit(-61).cast(T.LongType()))
            .when(F.col("b") == 0, F.lit(61).cast(T.LongType()))
            .when(ab >= ba, half_bits(F.expr("(a * cb) div (b * sa)")))
            .otherwise(-half_bits(F.expr("(b * sa) div (a * cb)")))
        )
        term = (ab - ba).cast(T.DecimalType(38, 0)) * hb.cast(
            T.DecimalType(38, 0)
        )
        return (
            g.agg(
                F.max("sa").alias("n_docs"),
                F.sum((F.col("a") > 0).cast(T.LongType()))
                .cast(T.LongType())
                .alias("buckets_hit"),
                F.sum(
                    ((F.col("a") == 0) & (F.col("b") > 0)).cast(T.LongType())
                )
                .cast(T.LongType())
                .alias("zero_buckets"),
                F.sum(
                    ((F.col("b") == 0) & (F.col("a") > 0)).cast(T.LongType())
                )
                .cast(T.LongType())
                .alias("new_buckets"),
                F.sum(term).cast(T.LongType()).alias("psi_num"),
                F.max("cb").alias("baseline_docs"),
            )
            .select(
                F.lit(int(epoch_id)).cast(T.LongType()).alias("epoch"),
                "n_docs",
                "baseline_docs",
                "buckets_hit",
                "zero_buckets",
                "new_buckets",
                "psi_num",
                (
                    F.col("psi_num").cast(T.DoubleType())
                    / (
                        F.col("n_docs").cast(T.DoubleType())
                        * F.col("baseline_docs").cast(T.DoubleType())
                    )
                ).alias("psi_half_bits"),
            )
        )
