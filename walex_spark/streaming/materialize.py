"""Streaming table-state materialization (SURVEY.md §2.9 R10, §4.2
custom-work item 6): maintain the current snapshot of each replicated
table by applying INSERT/UPDATE/DELETE changes from the envelope
stream, keyed by primary key, in LSN order.

The reference never materializes state (walex only routes events); this
is the engine's MERGE sink. On a real deployment the natural target is
a Delta/Iceberg `MERGE INTO` from `foreachBatch`; this container has
plain parquet only, so the sink implements the same contract with
hash-bucketed parquet and bucket-pruned rewrites:

  - state lives in versioned epoch dirs ``path/v-<epoch>-<nonce>/
    bucket=K/`` with K = pmod(hash(pk), N); a MANIFEST file maps each
    bucket to the version dir holding its current data;
  - each microbatch rewrites ONLY the buckets containing changed keys —
    at 100 TB the rewrite cost scales with the churn, not the table
    (the same access pattern a MERGE with bucketed clustering gives);
  - the merge itself is materialize_table_state over
    (existing ∪ batch): latest change per row wins by (lsn, change_idx),
    DELETE drops the key, TRUNCATE tombstones its whole table, and a
    key-changing UPDATE is a DELETE of its old key (split for the
    changed-bucket collect too, so the old key's bucket is rewritten);
  - the swap is ATOMIC: new buckets are fully written before one
    os.replace() flips the MANIFEST. A crash at any point leaves the
    previous manifest — and therefore a complete, single-epoch
    snapshot — readable (the same commit protocol as a Delta/Iceberg
    version pointer). Orphaned version dirs from crashed attempts are
    garbage-collected on the next successful publish;
  - replay safety (R12): the MANIFEST's ``applied`` mark, flipped with
    the buckets, is the highest ``wal_position`` merged; rows at or
    below it are replays and skipped. Exact, no horizon; it assumes the
    sink reads one slot's changes, whose positions rise in commit order.

Spark jobs per microbatch: 4 under AQE, two for the changed-bucket
pre-pass (its collect) and two for the merge and write (each a shuffle
stage, then the result). Only a batch that holds a TRUNCATE adds the
wipe's aggregate and broadcast join, 2 jobs more. For any other batch
the pre-pass has already seen that there is none, and the merge input
tells the optimizer so (``op != 'TRUNCATE'``), which prunes the wipe.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from walex_spark.operators.transforms import (
    materialize_table_state,
    pk_column,
    split_key_changes,
    wal_position,
)


@dataclass
class ParquetStateSink:
    """MERGE-into-parquet stand-in: current-state table fed by envelope
    microbatches via ``foreachBatch``."""

    path: str
    key_cols: list[str]
    num_buckets: int = 16
    _spark: SparkSession | None = field(default=None, init=False, repr=False)

    # -- layout ------------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST")

    def _read_manifest(self, part: str = "buckets"):
        """bucket id (str) → version dir name holding its current data;
        ``part="applied"``: the mark, [lsn, change_idx] or None."""
        try:
            with open(self._manifest_path) as f:
                return json.load(f).get(part)
        except FileNotFoundError:
            return {} if part == "buckets" else None

    def _bucket_dirs(self, manifest: dict[str, str], buckets) -> list[str]:
        return [
            os.path.join(self.path, manifest[str(k)], f"__bucket={k}")
            for k in buckets
            if str(k) in manifest
        ]

    def _bucket_col(self):
        return F.pmod(F.hash(pk_column(self.key_cols)), F.lit(self.num_buckets))

    def state(self, spark: SparkSession) -> DataFrame:
        """Current snapshot (envelope-shaped rows, one per live key)."""
        manifest = self._read_manifest()
        dirs = self._bucket_dirs(manifest, sorted(int(b) for b in manifest))
        if not dirs:
            from walex_spark.model import CHANGE_ENVELOPE_SCHEMA

            return spark.createDataFrame([], CHANGE_ENVELOPE_SCHEMA)
        return spark.read.parquet(*dirs)

    # -- merge -------------------------------------------------------------
    def process_batch(self, env: DataFrame, epoch_id: int = 0) -> None:
        """Apply one microbatch: merge changed keys into their buckets.

        Only buckets referenced by the batch are read and rewritten —
        bucket pruning is what keeps the rewrite proportional to churn.
        The publish is a single atomic manifest flip (see module doc).
        """
        spark = env.sparkSession
        mark = self._read_manifest("applied")
        if mark:  # replays: at or below the mark
            lsn, idx = mark
            env = env.filter(wal_position() > F.struct(F.lit(lsn).cast("bigint"), F.lit(idx)))
        # the bucket collect splits key-changing UPDATEs: the old key's
        # bucket must be rewritten too, to drop it. The merge below
        # splits the batch itself.
        agg = split_key_changes(env, self.key_cols).agg(
            F.collect_set(self._bucket_col()).alias("bs"),
            F.max(F.col("op") == "TRUNCATE").alias("has_trunc"),
            F.max(wal_position()).alias("top"),
        ).collect()[0]
        changed = sorted(agg.bs)
        if not changed:
            return
        manifest = self._read_manifest()
        if agg.has_trunc:
            # TRUNCATE wipes a whole table; its rows live in every
            # bucket, so the merge must cover all live ones
            changed = sorted({int(b) for b in manifest} | set(changed))
        existing_dirs = self._bucket_dirs(manifest, changed)
        merged_input = env
        if existing_dirs:
            # the sink wrote these files from batches of this schema:
            # passing it spares a schema-inference job
            existing = spark.read.schema(env.schema).parquet(*existing_dirs)
            merged_input = existing.unionByName(env)
        if not agg.has_trunc:
            # state holds no TRUNCATE row and the wipe drops NULL ops:
            # with this filter the optimizer prunes the wipe's
            # aggregate and broadcast join (two jobs)
            merged_input = merged_input.filter(F.col("op") != "TRUNCATE")
        new_state = materialize_table_state(merged_input, self.key_cols).withColumn(
            "__bucket", self._bucket_col()
        )

        vdir = f"v-{epoch_id}-{uuid.uuid4().hex[:8]}"
        new_state.write.partitionBy("__bucket").parquet(os.path.join(self.path, vdir))
        self._publish(manifest, changed, vdir, list(agg.top))

    def _publish(self, manifest: dict, changed: list, vdir: str, applied: list) -> None:
        """Flip the manifest and its mark atomically, then GC unreferenced versions.

        Everything before the os.replace is invisible to readers; a
        crash anywhere leaves the previous single-epoch state intact
        (the kill-mid-swap test pins this).
        """
        new_manifest = {
            b: v for b, v in manifest.items() if int(b) not in set(changed)
        }
        for k in changed:
            if os.path.isdir(os.path.join(self.path, vdir, f"__bucket={k}")):
                new_manifest[str(k)] = vdir
            # bucket emptied entirely (all its keys deleted) → drops out
        tmp = f"{self._manifest_path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"buckets": new_manifest, "applied": applied}, f)
        os.replace(tmp, self._manifest_path)
        # best-effort GC: version dirs no longer referenced (including
        # leftovers of crashed publishes) — a crash here is harmless
        live = set(new_manifest.values())
        for d in os.listdir(self.path):
            if d.startswith("v-") and d not in live:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    # -- streaming attach ---------------------------------------------------
    def attach(
        self,
        env_stream: DataFrame,
        checkpoint: str,
        trigger_seconds: float | None = None,
    ):
        """writeStream.foreachBatch(self.process_batch) with a checkpoint
        (durable-slot semantics: resume + idempotent re-merge)."""
        writer = env_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
