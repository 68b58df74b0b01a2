"""100x documents-only scale table (VERDICT r09 item 6): replicate the
sf0.1 documents table N=100-fold with the DECORRELATED per-position
deletion perturbation (tools/decorrelated_sf1.py's design — replica
i > 0 deletes each word independently with probability 1/5, keyed by
xxhash64(doc_id, replica, position)), so any cross-replica pair of the
same base doc has shingle Jaccard ~0.34 < the 0.5 registry threshold
REGARDLESS of which two replicas meet. The periodic-deletion design of
/tmp/sf1_scale cannot be pushed to 100 replicas: its high-period
replica pairs stay above threshold and the near-dup pair output grows
quadratically in replica count (SCALE_CHECK_r09's measured 43x-above-
linear artifact) — fake super-linearity real 100x data would not have.

Build shape: ONE plan — documents crossJoin a replica range (no
100-way union), the keep-decision entirely built-in exprs. This is
also the formulation that would run on a real cluster: the crossJoin
against a 100-row broadcast range is a flatMap-style fan-out, not 100
plan branches.

The star tables intentionally stay at sf1 (the r09 VERDICT's framing:
the text pipeline is the cheapest headline family to take to 100x).

Usage:
  python tools/sf10_docs.py [--out /tmp/sf10_docs] [--replicas 100]
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF01 = "/root/testdata/sf0.1"
KEY_STRIDE = 100_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf10_docs")
    ap.add_argument("--replicas", type=int, default=100)
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    reps = F.broadcast(
        spark.range(args.replicas).select(
            F.col("id").cast("int").alias("rep")
        )
    )
    fanned = docs.crossJoin(reps).withColumn(
        "doc_id",
        (F.col("doc_id") + F.col("rep").cast("long") * KEY_STRIDE).cast(
            "long"
        ),
    )
    words = F.split(F.col("text"), r"\s+")
    # independent per-(doc, replica, position) keep decision — replica 0
    # keeps everything (the base corpus survives verbatim); the hash key
    # (doc_id, rep:int, pos) matches decorrelated_sf1.py's per-branch
    # F.lit(i) so a 10-replica run of THIS tool reproduces that table
    kept = F.filter(
        F.zip_with(
            words,
            F.sequence(F.lit(0), F.size(words) - 1),
            lambda w, p: F.struct(
                w.alias("w"),
                (
                    (F.col("rep") == 0)
                    | (
                        F.pmod(
                            F.xxhash64(F.col("doc_id"), F.col("rep"), p),
                            F.lit(5),
                        )
                        != 0
                    )
                ).alias("keep"),
            ),
        ),
        lambda s: s["keep"],
    )
    out = (
        fanned.withColumn(
            "text",
            F.when(
                F.col("rep") == 0, F.col("text")
            ).otherwise(
                F.array_join(F.transform(kept, lambda s: s["w"]), " ")
            ),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .drop("rep")
    )
    path = os.path.join(args.out, "documents.parquet")
    out.repartition(32).write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    print(f"wrote {path}: {n} rows ({args.replicas} replicas)", flush=True)


if __name__ == "__main__":
    main()
