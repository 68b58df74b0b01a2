"""Decorrelated 10x documents table — the control experiment for the
prefix-Jaccard scale story (VERDICT r08 item 4).

/tmp/sf1_scale's documents replicate sf0.1 with periodic word DELETION
(period 7..15 per replica). High-period replica pairs of the same base
doc retain shingle Jaccard >= the 0.5 registry threshold, so the
near-dup PAIR OUTPUT grows ~43x above linear at the 10x step (measured:
256 -> 109,699 pairs) — real data replicated 10x would not do that.
This builder writes /tmp/sf1_decor/documents.parquet where replica
i > 0 instead deletes each word independently with probability 1/5,
keyed by xxhash64(doc_id, replica, position): deletions on different
replicas are DECORRELATED, so a 3-shingle survives on both sides of a
cross-replica pair with probability ~(4/5)^6 ~= 0.26 and cross-replica
J ~= 0.34 < 0.5 — below threshold, while within-replica duplicate
clusters (the template corpus's own noise floor) are preserved.

Usage: python tools/decorrelated_sf1.py [--out /tmp/sf1_decor]
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
REPLICAS = 10
KEY_STRIDE = 100_000_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1_decor")
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    out = None
    for i in range(REPLICAS):
        rep = docs.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(i * KEY_STRIDE)).cast("long")
        )
        if i > 0:
            # independent per-(doc, replica, position) keep decision —
            # all built-in exprs, no UDF
            words = F.split(F.col("text"), r"\s+")
            kept = F.filter(
                F.zip_with(
                    words,
                    F.sequence(F.lit(0), F.size(words) - 1),
                    lambda w, p: F.struct(
                        w.alias("w"),
                        (
                            F.pmod(
                                F.xxhash64(F.col("doc_id"), F.lit(i), p), F.lit(5)
                            )
                            != 0
                        ).alias("keep"),
                    ),
                ),
                lambda s: s["keep"],
            )
            rep = rep.withColumn(
                "text",
                F.array_join(F.transform(kept, lambda s: s["w"]), " "),
            ).withColumn("n_chars", F.length("text").cast("long"))
        out = rep if out is None else out.unionByName(rep)
    path = os.path.join(args.out, "documents.parquet")
    out.repartition(32).write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    print(f"wrote {n} rows to {path}")


if __name__ == "__main__":
    main()
