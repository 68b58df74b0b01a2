"""Transaction assembly (SURVEY.md §2.4).

The reference assembles changes between Begin and the matching Commit
into a %Transaction{} inside a single GenServer
(lib/walex/replication/publisher.ex:57-77). Here the boundaries have
one owner: the ordered walk of ``sources.pgoutput.decode_frames``
(finished by ``stamp_transactions``), which stamps each committed
change with its xid, commit_ts, lsn and change_idx and drops the
changes of transactions that never commit. The walk runs once per run
of the input (an ordered stretch of one frame file), with no exchange;
a driver-side carry stitches transactions that cross runs. On a
stream that pass runs per microbatch inside ``foreachBatch``, whose
checkpointed offsets are where the transaction state lives; there is
no xid-keyed state store. The decoder keeps only transactions whose
COMMIT is in the same input, so a transaction split across two
microbatches is not yet carried over.

``assemble_transactions`` then groups the stamped changes: one shuffle
on xid, WAL order within the transaction restored by (lsn,
change_idx).

The reference prepends changes (LIFO, publisher.ex:121) and consumers
see reversed order; we keep explicit arrival order (change_idx) —
deviation documented in SURVEY.md §2.4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from walex_spark.operators.transforms import lsn_column


def assemble_transactions(env: DataFrame) -> DataFrame:
    """Stamped changes grouped to transactions, WAL-ordered within.

    Returns one row per txn with the ordered change list. The xid
    shuffle is the only exchange; ordering inside a group is a local
    sort (sort_array on the collected structs, keyed by (lsn, idx)).
    """
    keyed = env.withColumn("__lsn", lsn_column())
    def _by_wal_order(a, b):
        # struct contains maps → default struct ordering unavailable;
        # compare explicitly on (lsn, change_idx)
        return (
            F.when(a.getField("lsn") < b.getField("lsn"), -1)
            .when(a.getField("lsn") > b.getField("lsn"), 1)
            .when(a.getField("idx") < b.getField("idx"), -1)
            .when(a.getField("idx") > b.getField("idx"), 1)
            .otherwise(0)
        )

    ordered_changes = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__lsn").alias("lsn"),
                    F.col("change_idx").alias("idx"),
                    F.col("op").alias("op"),
                    F.col("table").alias("table"),
                    F.col("record").alias("record"),
                    F.col("old_record").alias("old_record"),
                )
            ),
            _by_wal_order,
        ),
        lambda c: c.dropFields("lsn", "idx"),
    )
    return keyed.groupBy("xid").agg(
        F.max("commit_ts").alias("commit_ts"),
        F.count(F.lit(1)).cast("int").alias("n_changes"),
        F.min("__lsn").alias("first_lsn"),
        F.max("__lsn").alias("last_lsn"),
        F.array_distinct(F.collect_list("table")).alias("tables"),
        ordered_changes.alias("changes"),
    )
