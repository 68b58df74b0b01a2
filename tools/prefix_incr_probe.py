"""Root-cause probe for q_doc_prefix_incr's 12.2x wall ratio at the
10x step (VERDICT r08 item 4): count the candidate mass at every stage
of both the batch prefix join and the incremental twin, at sf0.1 and
/tmp/sf1_scale, so the super-linearity can be attributed to either
(a) genuine candidate-pair growth (corpus noise floor — an input
property the batch operator shares), or (b) an incr-only plan defect
(doubled within-epoch orientation, frozen-order prefix degradation).

Stages counted per sf:
  batch: prefix rows -> matched rows (post size filter) -> cand pairs
         (post positional filter) -> verified pairs
  incr:  per-epoch prefix rows / matched / cand / verified, summed

Usage: python tools/prefix_incr_probe.py [--sf1 /tmp/sf1_scale]
Prints one JSON line per (mode, sf).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def batch_counts(docs, tn=1, td=2):
    from walex_spark.extensions import dedup as dd

    toks = dd.word_shingles(docs, 3, "text", "doc_id", dedupe=True)
    per_doc = dd.rarest_first_doc_tokens(toks).localCheckpoint(eager=False)
    p = F.col("sz") - F.expr(f"(sz * {tn} + {td - 1}) div {td}") + F.lit(1)
    idx = per_doc.select(
        "id", "sz",
        F.posexplode(F.slice(F.col("toks"), F.lit(1), p)).alias("pos", "token"),
    )
    n, d = F.lit(tn), F.lit(td)
    matched = (
        idx.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
                   F.col("pos").alias("pa"), "token")
        .join(idx.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"),
                         F.col("pos").alias("pb"), "token"), "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((n * F.col("sz_a") <= d * F.col("sz_b"))
                & (n * F.col("sz_b") <= d * F.col("sz_a")))
    )
    cand = (
        matched.groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.min("pa").alias("ia"), F.min("pb").alias("jb"))
        .filter((F.lit(1) + F.least(F.col("sz_a") - F.col("ia") - 1,
                                    F.col("sz_b") - F.col("jb") - 1))
                * (n + d) >= n * (F.col("sz_a") + F.col("sz_b")))
    )
    out = {}
    t0 = time.time()
    out["prefix_rows"] = idx.count()
    out["matched_rows"] = matched.count()
    out["cand_pairs"] = cand.count()
    from walex_spark.extensions.dedup import prefix_filter_jaccard_pairs

    out["verified_pairs"] = prefix_filter_jaccard_pairs(docs).count()
    out["probe_wall_s"] = round(time.time() - t0, 1)
    return out


def incr_counts(spark, docs, tn=1, td=2):
    from walex_spark.streaming.dedup_incr import (
        IncrementalPrefixJaccardIndex,
        _read_union,
    )

    root = tempfile.mkdtemp(prefix="prefix_probe_")
    idx = IncrementalPrefixJaccardIndex(os.path.join(root, "idx"),
                                        threshold_num=tn, threshold_den=td)
    out = {"epochs": []}
    t0 = time.time()
    total_pairs = 0
    for e in range(3):
        te = time.time()
        pairs = idx.process_batch(docs.filter(F.col("doc_id") % 3 == e), e)
        n_pairs = pairs.count()
        total_pairs += n_pairs
        ep_pre = spark.read.schema(idx.PRE_SCHEMA).parquet(
            os.path.join(idx._root("pre"), f"e-{e}"))
        all_pre = _read_union(spark, idx._root("pre"), idx.PRE_SCHEMA)
        n, d = F.lit(tn), F.lit(td)
        matched = (
            ep_pre.select(F.col("id").alias("id_n"), F.col("sz").alias("sz_n"),
                          F.col("pos").alias("pn"),
                          F.col("ep").alias("ep_n"), "token")
            .join(all_pre.select(F.col("id").alias("id_o"),
                                 F.col("sz").alias("sz_o"),
                                 F.col("pos").alias("po"),
                                 F.col("ep").alias("ep_o"), "token"), "token")
            .filter((F.col("ep_o") < F.col("ep_n"))
                    | (F.col("id_n") < F.col("id_o")))
            .filter((n * F.col("sz_n") <= d * F.col("sz_o"))
                    & (n * F.col("sz_o") <= d * F.col("sz_n")))
        )
        out["epochs"].append({
            "epoch": e,
            "ep_prefix_rows": ep_pre.count(),
            "index_prefix_rows": all_pre.count(),
            "matched_rows": matched.count(),
            "emitted_pairs": n_pairs,
            "epoch_wall_s": round(time.time() - te, 1),
        })
    out["total_pairs"] = total_pairs
    out["probe_wall_s"] = round(time.time() - t0, 1)
    shutil.rmtree(root, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default="/tmp/sf1_scale")
    ap.add_argument("--modes", default="batch,incr")
    args = ap.parse_args()
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in dict.fromkeys((args.sf01, args.sf1)):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        for mode in args.modes.split(","):
            r = batch_counts(docs) if mode == "batch" else incr_counts(spark, docs)
            print(json.dumps({"mode": mode, "sf_dir": sf_dir, **r}), flush=True)


if __name__ == "__main__":
    main()
