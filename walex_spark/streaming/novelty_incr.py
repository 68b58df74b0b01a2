"""Incremental (streaming) twin of the batch n-gram novelty scorer
(extensions/text.py::ngram_novelty): documents arrive in doc-id-
ordered micro-batches, the set of ever-seen n-grams persists as an
append-only parquet index, and each epoch emits every arriving doc's
final novelty row — append-only, no retractions.

Why this operator is NATURALLY incremental (unlike DSIR, whose bucket
distributions keep moving): novelty is defined against the corpus
prefix — a doc's novel grams are exactly the grams no earlier doc
contained — so a doc's row is FINAL the moment its epoch closes.
min(doc_id) in the batch operator equals arrival order under the
PRECONDITION that epochs ascend in doc id (every doc in epoch e has
id greater than every doc in epochs < e) — the natural order of an
append-only ingest whose ids are assigned monotonically.

FOLD-EQUALS-BATCH (pinned by tests/test_novelty_incr.py): the union
of per-epoch emissions over an id-ascending epoch split equals
ngram_novelty over the full corpus, row for row.

PER-EPOCH COST CONTRACT: the epoch's own (doc, gram) DISTINCT and the
per-gram min are epoch-sized aggregations; the only index-wide work
is ONE anti-join of the epoch's distinct grams against the gram index
(a keyed hash join whose build side is the epoch). The per-epoch
delta written back is the set of grams FIRST seen this epoch —
deltas are disjoint by construction, so compaction is a plain union
fold under the shared manifest-flip protocol.
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


class IncrementalNoveltyIndex:
    """Ever-seen gram index + per-epoch final novelty emission."""

    GRAM_SCHEMA = "gram STRING"

    def __init__(
        self,
        index_dir: str,
        n: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        if n < 1:
            raise ValueError("n must be >= 1")
        self.index_dir = index_dir
        self.n = n
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _gram_root(self) -> str:
        return os.path.join(self.index_dir, "grams")

    def seen_grams(
        self, spark: SparkSession, exclude_epoch: int | None = None
    ) -> DataFrame:
        """The ever-seen gram set. ``exclude_epoch`` drops that
        epoch's own delta dir at the PATH level — a replayed epoch
        overwrites it while this read is lazy (the sessions-twin
        race), and its rows must not pre-seed the anti-join."""
        dirs = [
            d
            for d in _epoch_dirs(self._gram_root())
            if exclude_epoch is None
            or os.path.basename(d) != f"e-{exclude_epoch}"
        ]
        if not dirs:
            return empty_frame(spark, self.GRAM_SCHEMA)
        return spark.read.schema(self.GRAM_SCHEMA).parquet(*dirs)

    def compact(self, spark: SparkSession) -> bool:
        # deltas are disjoint gram sets — a plain union fold
        return _compact_root(spark, self._gram_root(), self.GRAM_SCHEMA)

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's new grams; return the epoch docs' FINAL
        novelty rows (id, n_distinct_ngrams, n_novel, novelty_ratio)
        — the batch operator's row shape."""
        from walex_spark.extensions.text import _tokens

        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._gram_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        n = self.n
        # checkpoint the tokenize+explode+distinct output: it feeds the
        # fresh-gram anti-join AND the per-doc emission aggregate —
        # without the checkpoint the gram pipeline (the dominant map
        # stage) executes once per consumer (3x total: the index write
        # plus twice inside the emission plan)
        grams = (
            batch_df.select(
                F.col(self.id_col), _tokens(F.col(self.text_col)).alias("toks")
            )
            .where(F.size("toks") >= n)
            .select(
                F.col(self.id_col),
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                        lambda i: F.concat_ws(
                            " ",
                            *[
                                F.element_at(F.col("toks"), (i + j).cast("int"))
                                for j in range(n)
                            ],
                        ),
                    )
                ).alias("gram"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        seen = self.seen_grams(spark, exclude_epoch=epoch_id)
        # grams first seen THIS epoch, with their first in-epoch doc —
        # checkpointed: consumed by the index write AND the emission
        fresh = (
            grams.join(seen, "gram", "left_anti")
            .groupBy("gram")
            .agg(F.min(self.id_col).alias("__first"))
            .localCheckpoint(eager=False)
        )
        out = (
            grams.join(fresh, "gram", "left")
            .groupBy(self.id_col)
            .agg(
                F.count(F.lit(1)).cast(T.LongType()).alias("n_distinct_ngrams"),
                F.sum(
                    F.when(F.col("__first") == F.col(self.id_col), 1).otherwise(0)
                )
                .cast(T.LongType())
                .alias("n_novel"),
            )
            .select(
                F.col(self.id_col),
                "n_distinct_ngrams",
                "n_novel",
                (
                    F.col("n_novel").cast(T.DoubleType())
                    / F.col("n_distinct_ngrams").cast(T.DoubleType())
                ).alias("novelty_ratio"),
            )
        )
        _write_epoch(fresh.select("gram"), self._gram_root(), epoch_id)
        return out
