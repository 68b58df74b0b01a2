"""Incremental (streaming) twins of the batch span/winnow dedup
operators — new documents arrive in micro-batches and are matched
against the already-indexed corpus, completing the streaming-parity
story the CDC layer already has (postings_delta_stream's design:
append-only emissions whose fold equals the batch operator).

No reference counterpart (walex routes CDC events; these are the
driver-mandated LLM-pipeline extensions) — the batch semantics being
mirrored are extensions/dedup.py::winnow_candidate_pairs and
::remove_duplicate_spans.

Both operators are ``foreachBatch``-shaped: a class holding a durable
parquet index directory, with ``process_batch(batch_df, epoch_id)``
called per micro-batch (wire it as
``writeStream.foreachBatch(idx.process_batch)`` in a real deployment;
tests and registry queries drive it directly, which is the same code
path foreachBatch invokes). Index writes follow materialize.py's
replay discipline: each epoch writes its own ``e-<epoch>`` directory
and re-processing a crashed epoch overwrites it idempotently, so the
at-least-once foreachBatch contract yields exactly-once index state.

FOLD-EQUALS-BATCH contracts (pinned by tests/test_dedup_incr.py):

  - winnow: documents are immutable and a doc's fingerprint set is
    fixed on arrival, so a pair's (n_shared, winnow_sim) never changes
    after both members arrived. Each epoch emits exactly the pairs
    whose LATER member arrived in that epoch; the UNION of emissions
    over all epochs equals winnow_candidate_pairs over the full
    corpus. Append-only — no retractions needed.

  - despan: a window becomes duplicated only when its ``min_count``-th
    occurrence arrives, which retroactively changes the clean text of
    EARLIER documents holding that window. Append mode cannot retract,
    so the operator emits UPSERTS (doc_id, clean_text, n_removed,
    epoch): every new doc emits on arrival, and every already-indexed
    doc whose span set changed re-emits. The latest emission per doc
    (max epoch) equals remove_duplicate_spans over the full corpus —
    the same emit-the-correction design as postings deltas, keyed by
    doc instead of term.

Scale shape: all per-epoch work is keyed joins/aggregates against the
parquet index (hash join on fp_hash / window hash — the index side is
read with filters pushed to the scan); no index-wide recompute except
the despan hash-count fold, which folds per-epoch PARTIAL counts
(h, n) — index growth per epoch is the epoch's own distinct hashes,
and the fold is a map-side-combinable sum, not a rescan of raw
occurrences. Occurrence rows (h, id, pos) are the distributed
suffix-array stand-in of Lee et al. — state linear in corpus size,
exactly like the batch operator's shuffle, but persisted. Document
text is stored once per doc (the same state the postings stream keeps
per key).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from walex_spark.extensions import dedup as dd
from walex_spark.session import empty_frame


def _manifest_upto(root: str) -> int:
    """Highest epoch folded into the root's compacted dir, or -1.

    The manifest is the COMPACTION PUBLISH POINT: `c-<upto>` parquet
    data is invisible until `_manifest.json` names it (flipped with
    os.replace — atomic on POSIX), so a crash mid-compaction leaves
    the live set exactly as before."""
    p = os.path.join(root, "_manifest.json")
    if not os.path.isfile(p):
        return -1
    import json

    with open(p) as f:
        return int(json.load(f)["upto"])


def _epoch_dirs(root: str) -> list[str]:
    """Live data dirs for a root: the compacted dir named by the
    manifest (if any) plus every epoch dir NEWER than it. Epoch dirs
    at or below the manifest's `upto` are superseded — kept on disk
    only until the post-flip cleanup removes them."""
    if not os.path.isdir(root):
        return []
    upto = _manifest_upto(root)
    dirs = []
    if upto >= 0:
        dirs.append(os.path.join(root, f"c-{upto}"))
    dirs += sorted(
        (
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("e-") and int(d[2:]) > upto
        ),
        key=lambda d: int(os.path.basename(d)[2:]),
    )
    return dirs


def _compact_root(
    spark: SparkSession, root: str, schema: str, agg=None
) -> bool:
    """Fold every live dir of ``root`` into ONE compacted dir under
    the manifest-flip protocol (sinks/compact.py's publish discipline:
    rewrite to a fresh dir, publish with one atomic rename):

      1. write union(live dirs) [optionally pre-folded by ``agg``]
         to ``c-<max epoch>`` — invisible to readers until step 2;
      2. flip ``_manifest.json`` to name it (tmp + os.replace);
      3. best-effort removal of the superseded dirs.

    Replay safety: compaction runs AFTER the current epoch's write,
    so a crashed-and-replayed micro-batch either (a) crashed before
    the flip — the manifest still names the old state, the replay
    overwrites its e-dir and re-compacts idempotently — or (b)
    crashed after the flip — the replayed e-dir write lands below
    `upto` and is invisible to readers (same rows, already folded).

    Bounds the per-epoch fold input AND the small-files count: with
    ``compact_every=K`` a root holds at most K+1 live dirs no matter
    how many epochs have run. Returns True if a compaction happened.
    """
    import json
    import shutil

    dirs = _epoch_dirs(root)
    if len(dirs) <= 1:
        return False
    upto = max(
        int(os.path.basename(d).split("-", 1)[1]) for d in dirs
    )
    df = spark.read.schema(schema).parquet(*dirs)
    if agg is not None:
        df = agg(df)
    out = os.path.join(root, f"c-{upto}")
    # size-targeted file count (sinks/compact.py's rule) — one file in
    # the sandbox, proportional at real index sizes
    import math

    from walex_spark.sinks.compact import plan_compaction

    total = sum(plan_compaction(d)["total_bytes"] for d in dirs)
    n_files = max(1, math.ceil(total / (128 * 1024 * 1024)))
    df.coalesce(n_files).write.mode("overwrite").parquet(out)
    tmp = os.path.join(root, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"upto": upto}, f)
    os.replace(tmp, os.path.join(root, "_manifest.json"))
    for d in dirs:
        if d != out:
            shutil.rmtree(d, ignore_errors=True)
    return True


def _read_union(spark: SparkSession, root: str, schema: str) -> DataFrame:
    dirs = _epoch_dirs(root)
    if not dirs:
        return empty_frame(spark, schema)
    return spark.read.schema(schema).parquet(*dirs)


def _write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    # overwrite-by-epoch: replaying a crashed micro-batch rewrites the
    # same directory with the same rows — idempotent under the
    # at-least-once foreachBatch contract
    df.write.mode("overwrite").parquet(os.path.join(root, f"e-{epoch_id}"))


class IncrementalWinnowIndex:
    """Winnowing fingerprint index + per-epoch new-pair emission.

    Each epoch: fingerprint the new docs (the batch operator's own
    winnow_fingerprints, positions=False), emit every candidate pair
    whose later member is in this epoch (new-vs-indexed plus
    new-vs-new), then append the new fingerprints to the index.

    ``max_doc_freq`` is deliberately NOT supported: hotness is a
    corpus-global property, so a hash that turns hot in epoch 3 would
    retroactively invalidate pairs emitted in epoch 1 — the batch
    operator and the fold would diverge. Appliers that need the hot
    guard run it on the folded output.

    PER-EPOCH COST CONTRACT: every per-epoch AGGREGATION is over the
    epoch's own rows (fingerprinting + the per-doc nfp count); index-
    wide work is limited to keyed joins/narrow scans against the
    parquet state. A doc's fingerprint count is immutable at arrival,
    so (id, nfp) is persisted per epoch alongside the fingerprints and
    union-read back — never re-aggregated over the full index (the
    r07-verdict nit). ``compact_every=K`` bounds live dirs per root to
    ~K regardless of epoch count (manifest-flip compaction at the
    START of a batch, when no reader can hold a plan over the old
    dirs).
    """

    FP_SCHEMA = "id BIGINT, fp_hash BIGINT"
    SIZES_SCHEMA = "id BIGINT, nfp BIGINT"

    def __init__(
        self,
        index_dir: str,
        k: int = 8,
        window: int = 4,
        min_shared: int = 2,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        self.index_dir = index_dir
        self.k, self.window = k, window
        self.min_shared = min_shared
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _fp_root(self) -> str:
        return os.path.join(self.index_dir, "fps")

    def _sizes_root(self) -> str:
        return os.path.join(self.index_dir, "sizes")

    def fingerprints(self, spark: SparkSession) -> DataFrame:
        return _read_union(spark, self._fp_root(), self.FP_SCHEMA)

    def compact(self, spark: SparkSession) -> bool:
        """Fold all live epoch dirs into one compacted dir per root
        (manifest-flip; see _compact_root). Safe whenever no emitted
        DataFrame from a previous batch is still un-materialized."""
        a = _compact_root(spark, self._fp_root(), self.FP_SCHEMA)
        b = _compact_root(spark, self._sizes_root(), self.SIZES_SCHEMA)
        return a or b

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's docs; return the epoch's NEW pairs
        (id_a, id_b, n_shared, winnow_sim) — the same row shape as
        winnow_candidate_pairs."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._fp_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        # checkpoint the fingerprint pipeline output ONCE: it feeds the
        # index write, the per-doc size aggregate, and the candidate
        # join — previously each consumer re-read the just-written
        # parquet (an extra scan job per epoch); the checkpointed rows
        # are byte-identical to the written ones (deterministic hash
        # pipeline), so replay stays exact
        new_fps = (
            dd.winnow_fingerprints(
                batch_df, self.k, self.window, self.text_col, self.id_col,
                positions=False,
            )
            .select(
                F.col("id").cast(T.LongType()).alias("id"),
                F.col("fp_hash").cast(T.LongType()).alias("fp_hash"),
            )
            .localCheckpoint(eager=False)
        )
        _write_epoch(new_fps, self._fp_root(), epoch_id)
        ep_fps = new_fps
        # (id, nfp) is fixed at arrival — persist it with the epoch so
        # later epochs union-read instead of re-aggregating the index
        _write_epoch(
            ep_fps.groupBy("id").agg(F.count(F.lit(1)).alias("nfp")),
            self._sizes_root(),
            epoch_id,
        )
        # post-epoch index = prior epochs from parquet + this epoch
        # from the checkpoint (skips re-scanning the file just written)
        old_fp_dirs = [
            d
            for d in _epoch_dirs(self._fp_root())
            if d != os.path.join(self._fp_root(), f"e-{epoch_id}")
        ]
        all_fps = (
            spark.read.schema(self.FP_SCHEMA).parquet(*old_fp_dirs).unionByName(ep_fps)
            if old_fp_dirs
            else ep_fps
        )
        sizes = _read_union(spark, self._sizes_root(), self.SIZES_SCHEMA)
        # the new side IS the epoch's own rows (docs are immutable and
        # arrive once — the fold contract), so no index-wide semi-join
        # is needed to recover them (r08: one full index pass saved
        # per epoch)
        new_side = ep_fps
        # every (pair, hash) where the pair's LATER member is new:
        # join new-side rows against the whole index; distinct on the
        # normalized pair before counting (a new-new pair meets twice).
        # Every joined row carries a new id_n by construction, so every
        # surviving pair has >= 1 member in this epoch — the old
        # both-old guard (two semi-joins + union + distinct per epoch)
        # was provably a no-op and is gone.
        shared = (
            new_side.select(F.col("id").alias("id_n"), "fp_hash")
            .join(all_fps.select(F.col("id").alias("id_o"), "fp_hash"), "fp_hash")
            .filter(F.col("id_n") != F.col("id_o"))
            .select(
                F.least("id_n", "id_o").alias("id_a"),
                F.greatest("id_n", "id_o").alias("id_b"),
                "fp_hash",
            )
            .distinct()
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= self.min_shared)
        )
        return (
            shared.join(
                sizes.select(F.col("id").alias("id_a"), F.col("nfp").alias("nfp_a")),
                "id_a",
            )
            .join(
                sizes.select(F.col("id").alias("id_b"), F.col("nfp").alias("nfp_b")),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "n_shared",
                (
                    F.col("n_shared").cast(T.DoubleType())
                    / (
                        F.col("nfp_a") + F.col("nfp_b") - F.col("n_shared")
                    ).cast(T.DoubleType())
                ).alias("winnow_sim"),
            )
        )


class IncrementalPrefixJaccardIndex:
    """Prefix-filtered exact-Jaccard index + per-epoch new-pair
    emission — the streaming twin of
    extensions/dedup.py::prefix_filter_jaccard_pairs (the last
    batch-only near-dup family after winnow/despan got their twins).

    DESIGN DIFFERENCE FROM THE BATCH OPERATOR, same reasoning as the
    winnow twin's max_doc_freq refusal: the batch prefix order is
    rarest-first by GLOBAL document frequency — a corpus-global
    property that changes as epochs arrive, and re-ordering would
    retroactively invalidate every indexed prefix. The All-Pairs
    pigeonhole lemma, however, is order-agnostic: candidate generation
    through the first  p = s - ceil(t*s) + 1  tokens is LOSSLESS under
    ANY total order shared by all docs. The twin therefore FREEZES a
    rarest-first order from the FIRST processed epoch's document
    frequencies — (df_epoch0, token), unseen tokens df=0 so genuinely
    novel vocabulary sorts rarest — written once to the ``order`` root
    and joined in for every later epoch's docs. Token frequency
    distributions are roughly stationary, so the frozen order keeps
    corpus-hot tokens OUT of prefixes almost as well as the live
    global order — measured at sf0.1 (pre-filter candidate rows,
    one-third-epoch freeze): live-global 329k, frozen-epoch-0 353k
    (+7%), pure (xxhash64, token) 461k (+40%; and a hash order's
    excess grows quadratically in each hot token's df as the corpus
    grows, where the frozen order's gap only tracks df drift). Both
    of ppjoin's lossless filters (size + positional) remain valid —
    they only assume the shared order, and correctness NEVER depends
    on the order being df-accurate.

    Emission contract: documents are immutable, token sets and
    prefixes are fixed at arrival, so J(A,B) and the pair's candidacy
    never change after both members arrived — each epoch emits exactly
    the >= threshold pairs whose LATER member arrived in it, and the
    UNION of emissions equals prefix_filter_jaccard_pairs over the
    full corpus (which itself equals the naive threshold join — the
    shared SQL oracle). Append-only, no retractions.
    """

    PRE_SCHEMA = "id BIGINT, sz INT, pos INT, token STRING, ep INT"
    TOK_SCHEMA = "id BIGINT, sz INT, toks ARRAY<STRING>"
    ORDER_SCHEMA = "token STRING, df BIGINT"

    def __init__(
        self,
        index_dir: str,
        threshold_num: int = 1,
        threshold_den: int = 2,
        shingle_n: int | None = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        if not (0 < threshold_num <= threshold_den):
            raise ValueError("threshold must satisfy 0 < num/den <= 1")
        self.index_dir = index_dir
        self.tn, self.td = threshold_num, threshold_den
        self.shingle_n = shingle_n
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _root(self, kind: str) -> str:
        return os.path.join(self.index_dir, kind)

    def compact(self, spark: SparkSession) -> bool:
        a = _compact_root(spark, self._root("pre"), self.PRE_SCHEMA)
        b = _compact_root(spark, self._root("toks"), self.TOK_SCHEMA)
        return a or b

    def _tokens(self, batch_df: DataFrame) -> DataFrame:
        if self.shingle_n is not None:
            return dd.word_shingles(
                batch_df, self.shingle_n, self.text_col, self.id_col, dedupe=True
            )
        return dd.tokenize_distinct(batch_df, self.text_col, self.id_col)

    def _frozen_order(
        self, spark: SparkSession, toks: DataFrame, epoch_id: int
    ) -> DataFrame:
        """The index's permanent (token, df) order table. Written ONCE
        from the first processed epoch's dfs (idempotent under replay:
        recomputing from the same batch rewrites the same rows); every
        later epoch only reads. Metadata-shaped: one row per epoch-0
        vocabulary entry."""
        root = self._root("order")
        if not _epoch_dirs(root):
            _write_epoch(
                toks.groupBy("token").agg(
                    F.count(F.lit(1)).cast(T.LongType()).alias("df")
                ),
                root,
                epoch_id,
            )
        return _read_union(spark, root, self.ORDER_SCHEMA)

    def _per_doc(self, toks: DataFrame, order: DataFrame) -> DataFrame:
        """(id, toks: array<string> in the FROZEN rarest-first order,
        sz) for the epoch's docs — the twin of
        rarest_first_doc_tokens with df frozen at the first epoch
        (unseen tokens df=0: novel vocabulary sorts rarest)."""
        return (
            toks.join(order, "token", "left")
            .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
            .groupBy("id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("token")))
                ).alias("__sorted")
            )
            .select(
                F.col("id").cast(T.LongType()).alias("id"),
                F.size("__sorted").cast(T.IntegerType()).alias("sz"),
                F.transform(F.col("__sorted"), lambda s: s["token"]).alias("toks"),
            )
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's docs; return the epoch's NEW pairs
        (id_a, id_b, jaccard) — the batch operator's row shape."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._root("pre"))) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        # toks feeds the epoch-0 order write AND per_doc; per_doc feeds
        # the toks-root and pre-root writes — checkpoint both or the
        # shingle pipeline recomputes per consumer (the batch
        # operator's own discipline, dedup.py:1073)
        toks = self._tokens(batch_df).localCheckpoint(eager=False)
        order = self._frozen_order(spark, toks, epoch_id)
        per_doc = self._per_doc(toks, order).localCheckpoint(eager=False)
        p = F.col("sz") - F.expr(
            f"(sz * {self.tn} + {self.td - 1}) div {self.td}"
        ) + F.lit(1)
        # checkpointed: the prefix rows feed the index write, the probe
        # side of the candidate join, AND the index-union side — one
        # materialization instead of three copies of the slice+explode
        # subtree in the emission plan
        pre_new = (
            per_doc.select(
                "id",
                "sz",
                F.posexplode(F.slice(F.col("toks"), F.lit(1), p)).alias(
                    "pos", "token"
                ),
            )
            .select(
                "id",
                "sz",
                F.col("pos").cast(T.IntegerType()).alias("pos"),
                "token",
                # arrival stamp: lets the candidate join keep
                # within-epoch pairs in ONE orientation (see the
                # matched filter below)
                F.lit(epoch_id).cast(T.IntegerType()).alias("ep"),
            )
            .localCheckpoint(eager=False)
        )
        _write_epoch(per_doc.select("id", "sz", "toks"), self._root("toks"), epoch_id)
        _write_epoch(pre_new, self._root("pre"), epoch_id)
        # the epoch's own rows probe FROM MEMORY (the pre_new
        # checkpoint — deterministic, so replay emits identical rows)
        ep_pre = pre_new
        # legacy tolerance: index dirs written before the ep column
        # existed read back ep=NULL; a bare `ep_o < ep_n` would go NULL
        # and silently drop the id_n >= id_o half of the cross-epoch
        # candidates. Coalesce to -1: legacy rows are unconditionally
        # "older", so every legacy-vs-new pair keeps exactly the
        # epoch-order orientation.
        all_pre = _read_union(
            spark, self._root("pre"), self.PRE_SCHEMA
        ).withColumn(
            "ep", F.coalesce(F.col("ep"), F.lit(-1).cast(T.IntegerType()))
        )
        all_toks = _read_union(spark, self._root("toks"), self.TOK_SCHEMA)
        n, d = F.lit(self.tn), F.lit(self.td)
        matched = (
            ep_pre.select(
                F.col("id").alias("id_n"),
                F.col("sz").alias("sz_n"),
                F.col("pos").alias("pn"),
                F.col("ep").alias("ep_n"),
                "token",
            )
            .join(
                all_pre.select(
                    F.col("id").alias("id_o"),
                    F.col("sz").alias("sz_o"),
                    F.col("pos").alias("po"),
                    F.col("ep").alias("ep_o"),
                    "token",
                ),
                "token",
            )
            # cross-epoch pairs meet once by construction (only the
            # epoch side probes); a WITHIN-epoch pair would meet in
            # BOTH orientations — keep exactly one. Lossless for the
            # positional filter downstream: for a shared prefix token
            # the (pn, po) positions are identical in either
            # orientation, so the pair's min positions are unchanged.
            # Measured at sf1: 43.8M -> 32.5M matched rows (the 1.35x
            # excess over the batch operator was entirely this).
            .filter(
                (F.col("ep_o") < F.col("ep_n"))
                | (F.col("id_n") < F.col("id_o"))
            )
            # All-Pairs size filter (order-free)
            .filter(
                (n * F.col("sz_n") <= d * F.col("sz_o"))
                & (n * F.col("sz_o") <= d * F.col("sz_n"))
            )
        )
        # normalize the pair; a new-new pair meets in both orientations
        # and collapses in the groupBy below
        flip = F.col("id_n") < F.col("id_o")
        cand = (
            matched.select(
                F.when(flip, F.col("id_n")).otherwise(F.col("id_o")).alias("id_a"),
                F.when(flip, F.col("id_o")).otherwise(F.col("id_n")).alias("id_b"),
                F.when(flip, F.col("sz_n")).otherwise(F.col("sz_o")).alias("sz_a"),
                F.when(flip, F.col("sz_o")).otherwise(F.col("sz_n")).alias("sz_b"),
                F.when(flip, F.col("pn")).otherwise(F.col("po")).alias("pa"),
                F.when(flip, F.col("po")).otherwise(F.col("pn")).alias("pb"),
            )
            .groupBy("id_a", "id_b", "sz_a", "sz_b")
            .agg(F.min("pa").alias("ia"), F.min("pb").alias("jb"))
            # ppjoin positional filter — valid under any shared order
            .filter(
                (
                    F.lit(1)
                    + F.least(
                        F.col("sz_a") - F.col("ia") - 1,
                        F.col("sz_b") - F.col("jb") - 1,
                    )
                )
                * (n + d)
                >= n * (F.col("sz_a") + F.col("sz_b"))
            )
            .select("id_a", "id_b")
        )
        joined = (
            cand.join(
                all_toks.select(
                    F.col("id").alias("id_a"),
                    F.col("toks").alias("toks_a"),
                    F.col("sz").alias("sz_a"),
                ),
                "id_a",
            )
            .join(
                all_toks.select(
                    F.col("id").alias("id_b"),
                    F.col("toks").alias("toks_b"),
                    F.col("sz").alias("sz_b"),
                ),
                "id_b",
            )
            .withColumn(
                "inter",
                F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b"))),
            )
        )
        return (
            joined.filter(
                F.col("inter") * d >= (F.col("sz_a") + F.col("sz_b") - F.col("inter")) * n
            )
            .select(
                "id_a",
                "id_b",
                (
                    F.col("inter").cast(T.DoubleType())
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast(
                        T.DoubleType()
                    )
                ).alias("jaccard"),
            )
        )


class IncrementalDespanIndex:
    """ExactSubstr removal index + per-epoch upsert emission.

    State per epoch: (a) raw window-hash occurrences (h, id, pos) —
    the distributed suffix-array stand-in, appended once per doc;
    (b) per-epoch PARTIAL hash counts (h, n) so duplicated-hash
    detection folds partial aggregates instead of rescanning raw
    occurrences; (c) doc texts (id, text) for re-cleaning.

    Emission per epoch: every NEW doc (cleaned against all duplicated
    windows known so far) plus every OLD doc whose window set gained a
    newly-duplicated hash this epoch. Latest-emission-per-doc equals
    the batch remove_duplicate_spans over everything indexed.
    """

    # h is the raw 16-byte md5 digest (see _char_windows' note): the
    # wins root is the index's largest state and every consumer only
    # equi-joins/groups on h, so BINARY halves parquet + shuffle bytes
    WIN_SCHEMA = "id BIGINT, pos INT, h BINARY"
    CNT_SCHEMA = "h BINARY, n BIGINT"
    DOC_SCHEMA = "id BIGINT, text STRING"

    def __init__(
        self,
        index_dir: str,
        win_len: int = 40,
        min_count: int = 2,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        if win_len < 2:
            raise ValueError("win_len must be >= 2")
        if min_count < 2:
            raise ValueError("min_count must be >= 2")
        self.index_dir = index_dir
        self.win_len, self.min_count = win_len, min_count
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every
        # In-memory running hash totals (h, n_old) carried between
        # process_batch calls: each epoch's full-outer fold output IS
        # next epoch's prior-totals side, so sequential epochs skip
        # the re-aggregate of every live cnt dir. Disk partials are
        # still written every epoch — they are the restart/replay
        # source of truth; this is only the warm path.
        self._tot: DataFrame | None = None
        self._tot_upto: int = -1

    def _root(self, kind: str) -> str:
        return os.path.join(self.index_dir, kind)

    def compact(self, spark: SparkSession) -> bool:
        """Fold live epoch dirs into one compacted dir per root. The
        cnt root PRE-FOLDS partial counts (groupBy h, sum n) during
        the rewrite, so the per-epoch _totals fold input stays bounded
        by compact_every partials instead of growing with epochs."""
        a = _compact_root(spark, self._root("wins"), self.WIN_SCHEMA)
        b = _compact_root(
            spark,
            self._root("cnt"),
            self.CNT_SCHEMA,
            agg=lambda df: df.groupBy("h").agg(F.sum("n").alias("n")),
        )
        c = _compact_root(spark, self._root("docs"), self.DOC_SCHEMA)
        return a or b or c

    def _window_hashes(self, docs: DataFrame) -> DataFrame:
        """(id, pos, h) — the same per-char md5 windows the batch
        operator shuffles (duplicate_spans' wins frame), shuffle-
        before-fan-out included."""
        text = F.col("text")
        return (
            dd.partition_by_doc(docs, "id")
            .filter(F.length(text) >= self.win_len)
            .select(
                "id",
                F.explode(
                    F.sequence(F.lit(1), F.length(text) - F.lit(self.win_len - 1))
                ).alias("pos"),
                text.alias("__t"),
            )
            .select(
                "id",
                "pos",
                F.unhex(
                    F.md5(F.col("__t").substr(F.col("pos"), F.lit(self.win_len)))
                ).alias("h"),
            )
        )

    def _clean(self, docs: DataFrame, marked: DataFrame) -> DataFrame:
        """docs (id, text) + marked dup-window rows (id, pos) →
        (id, clean_text, n_removed): the batch operator's span merge +
        segment stitch, restricted to the given docs."""
        w = Window.partitionBy("id").orderBy("pos")
        grouped = (
            marked.withColumn("__prev", F.lag("pos").over(w))
            .withColumn(
                "__brk",
                F.when(
                    F.col("__prev").isNull()
                    | (F.col("pos") > F.col("__prev") + F.lit(self.win_len)),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            )
            .withColumn(
                "__grp",
                F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
        )
        spans = grouped.groupBy("id", "__grp").agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(self.win_len - 1)).alias("e"),
        )
        # kept segments = gaps between spans (1-based inclusive), then
        # per-doc substr + ordered stitch — same shape as
        # remove_duplicate_spans' SQL oracle
        per_doc = spans.groupBy("id").agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("sp")
        )
        joined = docs.join(per_doc, "id", "left")
        segs = F.when(F.col("sp").isNull(), F.array(F.col("text"))).otherwise(
            F.filter(
                F.zip_with(
                    # gap starts: 1, e_i+1 ...; gap ends: s_i-1 ..., len
                    F.concat(
                        F.array(F.lit(1)),
                        F.transform(F.col("sp"), lambda st: st["e"] + 1),
                    ),
                    F.concat(
                        F.transform(F.col("sp"), lambda st: st["s"] - 1),
                        F.array(F.length("text")),
                    ),
                    lambda gs, ge: F.when(
                        ge >= gs, F.col("text").substr(gs, ge - gs + 1)
                    ).otherwise(F.lit("")),
                ),
                lambda s: s.isNotNull(),
            )
        )
        # n_removed computed here, where text is already joined in —
        # the old separate _clean_with_removed re-join of docs was one
        # more exchange per epoch for a column derivable in place
        clean = F.concat_ws("", segs)
        return joined.select(
            "id",
            clean.alias("clean_text"),
            (F.length("text") - F.length(clean))
            .cast(T.LongType())
            .alias("n_removed"),
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's docs; return the epoch's UPSERTS
        (id, clean_text, n_removed)."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._root("cnt"))) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        docs_new = batch_df.select(
            F.col(self.id_col).cast(T.LongType()).alias("id"),
            F.col(self.text_col).alias("text"),
        )
        # checkpoint the explode+md5 output ONCE: it feeds the index
        # write, the partial-count aggregate, and (unioned with the old
        # epochs) the emission scan — without the checkpoint each
        # consumer used to re-read the just-written parquet (an extra
        # scan job per epoch, guide §1.2 step 1: don't pay twice)
        wins_new = self._window_hashes(docs_new).localCheckpoint(eager=False)
        _write_epoch(wins_new, self._root("wins"), epoch_id)
        cnt_new = wins_new.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
        _write_epoch(cnt_new, self._root("cnt"), epoch_id)
        _write_epoch(docs_new, self._root("docs"), epoch_id)

        # ONE partial-count fold (prior epochs only), full-outer-joined
        # with the epoch's own partial: n_all = n_old + n_new gives the
        # duplicated set, n_old alone the previously-duplicated set —
        # newly-duplicated is the difference, computed without a second
        # index-wide aggregate (r08: this halved the per-epoch fold cost).
        # The prior-totals side comes from the in-memory running-total
        # checkpoint when this epoch directly follows the one it was
        # built at (the steady-state microbatch path: no dir scan, no
        # re-aggregate); any other arrival order — restart, replay of a
        # failed epoch, out-of-order delivery — rebuilds from the disk
        # partials, which remain the source of truth.
        if self._tot is not None and epoch_id > self._tot_upto:
            tot_old = self._tot
        else:
            all_dirs = _epoch_dirs(self._root("cnt"))
            cur = os.path.join(self._root("cnt"), f"e-{epoch_id}")
            old_dirs = [d for d in all_dirs if d != cur]
            if old_dirs:
                tot_old = (
                    spark.read.schema(self.CNT_SCHEMA).parquet(*old_dirs)
                    .groupBy("h").agg(F.sum("n").alias("n_old"))
                )
            else:
                tot_old = empty_frame(spark, "h BINARY, n_old BIGINT")
        # the epoch's own partial folds in FROM MEMORY (same checkpoint
        # the index write materialized) — deterministic, so replay
        # recomputes identical rows; no read-back needed
        joined_cnt = tot_old.join(
            cnt_new.select("h", F.col("n").alias("n_new")), "h", "full"
        ).select(
            "h",
            (F.coalesce(F.col("n_old"), F.lit(0))).alias("n_old"),
            (
                F.coalesce(F.col("n_old"), F.lit(0))
                + F.coalesce(F.col("n_new"), F.lit(0))
            ).alias("n_all"),
        ).localCheckpoint(eager=False)
        # joined_cnt IS the new running total (n_all = totals through
        # this epoch): the checkpoint makes it double as next epoch's
        # tot_old, materialized by this epoch's own emission action.
        # Bounded frame: one row per distinct window hash indexed so
        # far — the same bound as the compacted cnt root itself.
        self._tot = joined_cnt.select("h", F.col("n_all").alias("n_old"))
        self._tot_upto = epoch_id
        # one flagged dup-hash table instead of two filtered views:
        # is_new marks hashes whose min_count-th occurrence arrived
        # THIS epoch (the retroactive-correction trigger)
        dup_flags = joined_cnt.filter(F.col("n_all") >= self.min_count).select(
            "h", (F.col("n_old") < self.min_count).alias("is_new")
        )

        old_win_dirs = [
            d
            for d in _epoch_dirs(self._root("wins"))
            if d != os.path.join(self._root("wins"), f"e-{epoch_id}")
        ]
        all_wins = (
            spark.read.schema(self.WIN_SCHEMA).parquet(*old_win_dirs).unionByName(wins_new)
            if old_win_dirs
            else wins_new
        )
        # (measured negative, kept on disk: folding the current epoch's
        # docs in from memory — the wins_new pattern — REGRESSED 59 ->
        # 71 jobs: docs_new is un-checkpointed and already feeds the
        # epoch write, so the union duplicated its subtree per
        # consumer; the r11 prefix-twin rule again)
        all_docs = _read_union(spark, self._root("docs"), self.DOC_SCHEMA)
        new_ids = docs_new.select("id").distinct()
        # ONE scan of the wins index joined against the flagged dup
        # hashes yields every duplicated-window occurrence, checkpointed
        # because it feeds both the affected-doc set and the span marks
        # (previously two independent semi-joins = two full index scans
        # per epoch). Size is bounded by actual duplication, a small
        # fraction of the index. (Measured negative: re-keying this to
        # id before the checkpoint to feed the three id-keyed consumers
        # added its own exchange without eliding theirs — 57 -> 60
        # jobs, 701 -> 829 tasks — so it stays partitioned by h.)
        hits = (
            all_wins.join(dup_flags, "h")
            .select("id", "pos", "is_new")
            .localCheckpoint(eager=False)
        )
        # affected OLD docs: hold a window that became duplicated now
        affected_old = (
            hits.filter(F.col("is_new"))
            .select("id")
            .distinct()
            .join(new_ids, "id", "left_anti")
        )
        emit_ids = affected_old.unionByName(new_ids).distinct()
        marked = hits.join(emit_ids, "id", "left_semi").select("id", "pos")
        docs_emit = all_docs.join(emit_ids, "id", "left_semi")
        return self._clean_with_removed(docs_emit, marked)

    def _clean_with_removed(self, docs: DataFrame, marked: DataFrame) -> DataFrame:
        return self._clean(docs, marked)


class IncrementalMinHashIndex:
    """MinHash+LSH band index + per-epoch new-pair emission — the
    foreachBatch twin of extensions/dedup.py::minhash_candidate_pairs
    (same construction: word shingles → K Kirsch–Mitzenmacher
    minhashes → B band hashes; candidates meet on the band-bucket
    key).

    FOLD-EQUALS-BATCH: a doc's signature — hence its band hashes — is
    a pure function of its text, fixed at arrival; whether a pair
    collides in some band is a property of the PAIR alone. Each epoch
    emits exactly the distinct (id_a, id_b) whose LATER member arrived
    in that epoch (new-vs-indexed + new-vs-new), so the union of
    emissions over all epochs equals the batch operator over the full
    corpus. Append-only — no retractions, and compaction is a plain
    union rewrite (no fold needed).

    PER-EPOCH COST CONTRACT: shingling/signature aggregation runs over
    the EPOCH's docs only; index-wide work is ONE keyed equi-join of
    the epoch's band rows against the band index on
    (band_idx, band_hash) — the same bucket key the batch self-join
    shuffles on, so hot buckets are AQE-splittable and the index side
    arrives via parquet scan with the join key's filters pushed down.
    State per doc: B rows of (id, band_idx, band_hash) — smaller than
    the fingerprint state the winnow twin keeps.
    """

    BAND_SCHEMA = "id BIGINT, band_idx INT, band_hash STRING"

    def __init__(
        self,
        index_dir: str,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        if num_hashes % bands != 0:
            raise ValueError(
                f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
            )
        self.index_dir = index_dir
        self.num_hashes, self.bands = num_hashes, bands
        self.shingle_n = shingle_n
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _band_root(self) -> str:
        return os.path.join(self.index_dir, "bands")

    def band_rows(self, spark: SparkSession) -> DataFrame:
        return _read_union(spark, self._band_root(), self.BAND_SCHEMA)

    def compact(self, spark: SparkSession) -> bool:
        return _compact_root(spark, self._band_root(), self.BAND_SCHEMA)

    def _epoch_bands(self, batch_df: DataFrame) -> DataFrame:
        rows_per_band = self.num_hashes // self.bands
        tokens = (
            dd.word_shingles(
                batch_df, self.shingle_n, self.text_col, self.id_col,
                dedupe=False,
            )
            if self.shingle_n > 1
            else dd.tokenize_distinct(batch_df, self.text_col, self.id_col)
        )
        sig = dd.minhash_signature(tokens, self.num_hashes)
        band_cols = []
        for b in range(self.bands):
            parts = [
                F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
            ]
            band_cols.append(
                F.struct(
                    F.lit(b).cast(T.IntegerType()).alias("band_idx"),
                    F.md5(F.concat_ws(":", *parts)).alias("band_hash"),
                )
            )
        return (
            sig.select("id", F.explode(F.array(*band_cols)).alias("band"))
            .select(
                F.col("id").cast(T.LongType()).alias("id"),
                F.col("band.band_idx").alias("band_idx"),
                F.col("band.band_hash").alias("band_hash"),
            )
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's docs; return the epoch's NEW candidate
        pairs (id_a, id_b) — the same row shape as
        minhash_candidate_pairs."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._band_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        # checkpoint the signature pipeline output once — index write
        # and candidate join share it; no parquet read-back job
        ep = self._epoch_bands(batch_df).localCheckpoint(eager=False)
        _write_epoch(ep, self._band_root(), epoch_id)
        old_dirs = [
            d
            for d in _epoch_dirs(self._band_root())
            if d != os.path.join(self._band_root(), f"e-{epoch_id}")
        ]
        all_bands = (
            spark.read.schema(self.BAND_SCHEMA).parquet(*old_dirs).unionByName(ep)
            if old_dirs
            else ep
        )
        # every joined row carries a new id_n, so every emitted pair
        # has >= 1 member in this epoch by construction — the old
        # both-old guard (two semi-joins + union + distinct) was a
        # no-op and is gone
        return (
            ep.select(
                F.col("id").alias("id_n"), "band_idx", "band_hash"
            )
            .join(
                all_bands.select(
                    F.col("id").alias("id_o"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            )
            .filter(F.col("id_n") != F.col("id_o"))
            .select(
                F.least("id_n", "id_o").alias("id_a"),
                F.greatest("id_n", "id_o").alias("id_b"),
            )
            .distinct()
        )


class IncrementalExactDedupIndex:
    """Exact-dedup twin — the foreachBatch form of
    extensions/dedup.py::exact_dedup (content-hash groups with a
    min-id representative and a duplicate count).

    A group's (rep_id, dup_count) CHANGES as later copies arrive, so
    like the despan twin this emits UPSERTS keyed by content_hash:
    each epoch emits one row per hash TOUCHED by the epoch, carrying
    the group's post-epoch state; the LATEST emission per hash (max
    epoch) equals the batch operator over the full corpus. State is
    per-epoch PARTIAL aggregates (content_hash, min_id, cnt) — the
    fold is min/sum, map-side combinable, so compaction pre-folds
    partials exactly like the despan count root.

    PER-EPOCH COST CONTRACT: the epoch aggregates ONLY its own rows;
    index-wide work is one keyed semi-join (touched hashes against the
    partial-aggregate union) + the fold over the matching groups.
    """

    AGG_SCHEMA = "content_hash STRING, min_id BIGINT, cnt BIGINT"

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

    def _agg_root(self) -> str:
        return os.path.join(self.index_dir, "agg")

    @staticmethod
    def _fold(df: DataFrame) -> DataFrame:
        return df.groupBy("content_hash").agg(
            F.min("min_id").alias("min_id"), F.sum("cnt").alias("cnt")
        )

    def compact(self, spark: SparkSession) -> bool:
        return _compact_root(
            spark, self._agg_root(), self.AGG_SCHEMA, agg=self._fold
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's docs; return the UPSERT rows
        (content_hash, rep_id, dup_count) for every group the epoch
        touched — the batch operator's row shape."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._agg_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        # pre-r12 note: an r11 session swapped the read-backs below for
        # a localCheckpoint of ep unioned with the old dirs; measured
        # NEUTRAL both times (jobcounts unchanged, interleaved wall
        # 2.23 vs 2.18 s min-of-3) because the partial here is one
        # map-side-combined aggregate of the epoch — cheap to recompute
        # and epoch-dir reads are metadata-sized. Reverted to the
        # simpler shape per the keep-or-revert rule for neutral churn.
        ep = batch_df.select(
            F.md5(F.col(self.text_col)).alias("content_hash"),
            F.col(self.id_col).cast(T.LongType()).alias("id"),
        ).groupBy("content_hash").agg(
            F.min("id").alias("min_id"),
            F.count(F.lit(1)).cast(T.LongType()).alias("cnt"),
        )
        _write_epoch(ep, self._agg_root(), epoch_id)
        ep_hashes = (
            spark.read.schema(self.AGG_SCHEMA)
            .parquet(os.path.join(self._agg_root(), f"e-{epoch_id}"))
            .select("content_hash")
        )
        all_partials = _read_union(spark, self._agg_root(), self.AGG_SCHEMA)
        touched = all_partials.join(ep_hashes, "content_hash", "left_semi")
        return self._fold(touched).select(
            "content_hash",
            F.col("min_id").alias("rep_id"),
            F.col("cnt").alias("dup_count"),
        )


class IncrementalSimHashIndex:
    """SimHash banded index + per-epoch new-pair emission — the
    foreachBatch twin of extensions/dedup.py::simhash_hamming_pairs,
    completing the twin set (minhash / winnow / despan /
    prefix-Jaccard / exact / simhash).

    Same argument as the MinHash twin: a doc's simhash — hence its
    band keys and any pair's Hamming distance — is a pure function of
    its text, fixed at arrival. Append-only state of (id, simhash,
    band, key) rows; each epoch equi-joins its banded rows against the
    index on (band, key), verifies hamming <= max on the joined row,
    and emits the distinct pairs whose later member just arrived. The
    pigeonhole exact-recall guarantee is per pair, so it carries over
    unchanged; the union of emissions equals the batch operator.
    """

    BAND_SCHEMA = "id BIGINT, simhash BIGINT, band INT, key BIGINT"

    def __init__(
        self,
        index_dir: str,
        bits: int = 48,
        band_bits: int = 8,
        max_hamming: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        compact_every: int = 0,
    ):
        n_bands = bits // band_bits
        if max_hamming > n_bands - 1:
            raise ValueError(
                f"max_hamming={max_hamming} exceeds the exact-recall bound "
                f"bands-1={n_bands - 1}"
            )
        self.bits, self.band_bits = bits, band_bits
        self.max_hamming = max_hamming
        self.index_dir = index_dir
        self.text_col, self.id_col = text_col, id_col
        self.compact_every = compact_every

    def _band_root(self) -> str:
        return os.path.join(self.index_dir, "bands")

    def band_rows(self, spark: SparkSession) -> DataFrame:
        return _read_union(spark, self._band_root(), self.BAND_SCHEMA)

    def compact(self, spark: SparkSession) -> bool:
        return _compact_root(spark, self._band_root(), self.BAND_SCHEMA)

    def _epoch_bands(self, batch_df: DataFrame) -> DataFrame:
        sigs = dd.simhash(batch_df, self.text_col, self.id_col, bits=self.bits)
        n_bands = self.bits // self.band_bits
        mask = (1 << self.band_bits) - 1
        return sigs.select(
            F.col("id").cast(T.LongType()).alias("id"),
            F.col("simhash").cast(T.LongType()).alias("simhash"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).cast(T.IntegerType()).alias("band"),
                            F.shiftright(F.col("simhash"), b * self.band_bits)
                            .bitwiseAND(F.lit(mask))
                            .cast(T.LongType())
                            .alias("key"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bk"),
        ).select(
            "id", "simhash",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Index the epoch's docs; return the epoch's NEW verified
        pairs (id_a, id_b, hamming) — simhash_hamming_pairs' shape."""
        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._band_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        # checkpoint the simhash pipeline output once — index write and
        # candidate join share it; no parquet read-back job
        ep = self._epoch_bands(batch_df).localCheckpoint(eager=False)
        _write_epoch(ep, self._band_root(), epoch_id)
        old_dirs = [
            d
            for d in _epoch_dirs(self._band_root())
            if d != os.path.join(self._band_root(), f"e-{epoch_id}")
        ]
        all_bands = (
            spark.read.schema(self.BAND_SCHEMA).parquet(*old_dirs).unionByName(ep)
            if old_dirs
            else ep
        )
        ham = F.bit_count(F.col("sig_n").bitwiseXOR(F.col("sig_o")))
        # every joined row carries a new id_n, so every emitted pair
        # has >= 1 member in this epoch by construction — the old
        # both-old guard (two semi-joins + union + distinct) was a
        # no-op and is gone
        return (
            ep.select(
                F.col("id").alias("id_n"),
                F.col("simhash").alias("sig_n"),
                "band",
                "key",
            )
            .join(
                all_bands.select(
                    F.col("id").alias("id_o"),
                    F.col("simhash").alias("sig_o"),
                    "band",
                    "key",
                ),
                ["band", "key"],
            )
            .filter(F.col("id_n") != F.col("id_o"))
            .filter(ham <= self.max_hamming)
            .select(
                F.least("id_n", "id_o").alias("id_a"),
                F.greatest("id_n", "id_o").alias("id_b"),
                ham.cast(T.LongType()).alias("hamming"),
            )
            .distinct()
        )


class IncrementalManifestIndex:
    """Shard-manifest maintenance — the foreachBatch twin of
    operators/diff.py::shard_manifest (count + key bounds + order-free
    XOR content hash per key shard).

    Every statistic in the manifest folds associatively under
    insert-only arrival: counts sum, bounds min/max, and the XOR hash
    is its own inverse — so state is per-epoch PARTIAL manifests and
    an epoch's work is ONE epoch-sized aggregate plus the fold over
    shards the epoch touched (semi-join-restricted, the exact-dedup
    twin's shape). Emissions are UPSERTS keyed by shard; the LATEST
    emission per shard equals the batch operator over everything
    arrived. At a CDC sink this is how the 100 TB migration check
    stays continuously fresh: the manifest never rescans the corpus.

    (Deletes/updates would keep count and XOR maintainable — XOR the
    old image out, the new one in — but break min/max; this twin is
    insert-only, like the append-only training-corpus feeds it
    audits. A delete-bearing variant would drop the bounds columns.)

    PER-EPOCH COST CONTRACT: the epoch aggregates only its own rows;
    index-wide work is the keyed semi-join + the fold over matching
    shards. Compaction pre-folds partials (``_compact_root`` with the
    same fold), so the union stays bounded by ``compact_every``.
    """

    AGG_SCHEMA = (
        "shard BIGINT, n_rows BIGINT, min_key BIGINT, max_key BIGINT, "
        "xor_hash BIGINT"
    )

    def __init__(
        self,
        index_dir: str,
        key_col: str = "doc_id",
        hash_cols: tuple[str, ...] = ("doc_id", "text"),
        shard_size: int = 100,
        compact_every: int = 0,
    ):
        self.index_dir = index_dir
        self.key_col = key_col
        self.hash_cols = list(hash_cols)
        self.shard_size = int(shard_size)
        self.compact_every = compact_every

    def _agg_root(self) -> str:
        return os.path.join(self.index_dir, "agg")

    @staticmethod
    def _fold(df: DataFrame) -> DataFrame:
        return df.groupBy("shard").agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("min_key").alias("min_key"),
            F.max("max_key").alias("max_key"),
            F.expr("bit_xor(xor_hash)").alias("xor_hash"),
        )

    def compact(self, spark: SparkSession) -> bool:
        return _compact_root(
            spark, self._agg_root(), self.AGG_SCHEMA, agg=self._fold
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> DataFrame:
        """Fold the epoch into the manifest; return the UPSERT rows
        (shard, n_rows, min_key, max_key, xor_hash) for every shard
        the epoch touched — the batch operator's row shape."""
        from walex_spark.operators.diff import shard_manifest

        spark = batch_df.sparkSession
        if self.compact_every and len(_epoch_dirs(self._agg_root())) >= (
            self.compact_every + 1
        ):
            self.compact(spark)
        # pre-r12 note: the r11 localCheckpoint-union form measured
        # NEUTRAL here too (2.44 vs 2.51 s min-of-3, jobcounts
        # unchanged) — shard_manifest is one map-side-combined
        # aggregate; reverted to the simpler read-back shape per the
        # keep-or-revert rule for neutral churn.
        ep = shard_manifest(
            batch_df,
            key_col=self.key_col,
            hash_cols=self.hash_cols,
            shard_size=self.shard_size,
        )
        _write_epoch(ep, self._agg_root(), epoch_id)
        ep_shards = (
            spark.read.schema(self.AGG_SCHEMA)
            .parquet(os.path.join(self._agg_root(), f"e-{epoch_id}"))
            .select("shard")
        )
        all_partials = _read_union(spark, self._agg_root(), self.AGG_SCHEMA)
        touched = all_partials.join(ep_shards, "shard", "left_semi")
        return self._fold(touched)
