"""One-off ~sf1 scale checkpoint (VERDICT r06 → r07 item 5): measure
how the heaviest queries scale across a 10× data step — the cheapest
in-sandbox proxy for the 100 TB claim. A query that is honestly
linear-ish at 10× (ratio ≈ 10× work on 32 threads ≈ wall ratio ~10 or
less with fixed overheads amortized) is behaving; a >15× wall ratio
flags hidden super-linearity (candidate-pair blowup, driver floor,
compile explosion) to root-cause.

The sf1 input is built HERE, once, under /tmp/sf1_scale (the driver
provides sf0.001/0.01/0.1 only, and /root/testdata is read-only):
each scaled table is 10 key-offset replicas of the sf0.1 table, with
two de-duplication perturbations so replication does not manufacture
super-linear work that real 10x data would not have:

  - documents: replica i>0 DELETES every (6+i)-th word. Two designs
    this replaced, both measured as harness artifacts (SURVEY §14):
    a trailing replica tag leaves cross-replica shingle Jaccard ~0.93
    (116x LSH candidate growth at the 10x step — MinHash correctly
    pairs every replica family); an interleaved every-5-words tag
    creates tag-bearing shingles whose discriminating power drops to
    2 words, colliding across UNRELATED same-replica docs (70x).
    Deletion creates no new tokens, so unrelated docs share nothing
    new; within a replica the same deletion hits near-identical docs
    identically (clusters preserved); across replicas the differing
    periods leave J ~= (1-3/p1)(1-3/p2)-ish ~ 0.3, below the
    registry's near-dup thresholds. Dup clusters therefore grow 10x
    in count but not in size — pair outputs scale linearly, as on
    real data;
  - embeddings: component 0 gets a tiny per-replica offset, same
    reason for ANN/near-dup pair families.

FK consistency holds within each replica: every *key column is offset
by replica_idx * KEY_STRIDE, so joins produce exactly 10x the sf0.1
matches. region/nation are genuine fixed-size dims and stay as-is.

Usage:
  python tools/scale_check.py --build          # materialize /tmp/sf1_scale
  python tools/scale_check.py [-n 2] [names]   # run + report JSON
Defaults: the 15 slowest queries from BENCH_DETAIL.json, min-of-n per
(query, sf) in one session, sf0.1 vs /tmp/sf1_scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1_scale"
REPLICAS = 10
KEY_STRIDE = 100_000_000  # far above any sf0.1 key

OFFSET_COLS = {
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# nation/region keys must stay un-offset (fixed dims), so replicated
# fact rows keep valid FKs into them
NO_OFFSET = {"c_nationkey", "s_nationkey"}
COPY_TABLES = ["region", "nation"]


def build(spark):
    from pyspark.sql import functions as F

    os.makedirs(SF1, exist_ok=True)
    for t in COPY_TABLES:
        spark.read.parquet(f"{SF01}/{t}.parquet").write.mode("overwrite").parquet(
            f"{SF1}/{t}.parquet"
        )
    for t, keys in OFFSET_COLS.items():
        df = spark.read.parquet(f"{SF01}/{t}.parquet")
        reps = []
        for i in range(REPLICAS):
            r = df
            for kcol in keys:
                if kcol in NO_OFFSET:
                    continue
                r = r.withColumn(kcol, F.col(kcol) + F.lit(i * KEY_STRIDE))
            if t == "documents" and i > 0:
                r = r.withColumn(
                    "text",
                    F.regexp_replace(
                        F.col("text"),
                        r"((?:\S+ ){%d})\S+ " % (5 + i),
                        "$1",
                    ),
                )
            if t == "embeddings" and i > 0:
                r = r.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            F.element_at("embedding", 1)
                            + F.lit(i * 1e-3).cast("float")
                        ),
                        F.slice("embedding", 2, 10_000),
                    ),
                )
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{SF1}/{t}.parquet")
        print(f"built {t}", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("-n", type=int, default=2)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from walex_spark.queries import QUERIES
    from walex_spark.session import get_spark

    spark = get_spark("scale-check")
    if args.build:
        build(spark)
        return 0
    if not os.path.isdir(SF1):
        print("run --build first", file=sys.stderr)
        return 1

    names = args.names
    if not names:
        detail = json.load(open(os.path.join(ROOT, "BENCH_DETAIL.json")))
        qsec = detail.get("queries", detail)
        names = [
            k for k, _ in sorted(qsec.items(), key=lambda kv: -float(kv[1]))
        ][:15]

    report = {}
    for name in names:
        fn = QUERIES[name]
        row = {}
        for label, sf in (("sf0.1", SF01), ("sf1", SF1)):
            best = None
            for _ in range(args.n):
                t0 = time.time()
                fn(spark, sf).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            row[label] = round(best, 3)
        row["ratio"] = round(row["sf1"] / max(row["sf0.1"], 1e-9), 2)
        report[name] = row
        print(json.dumps({name: row}), flush=True)
    print(json.dumps({"scale_check": report}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
