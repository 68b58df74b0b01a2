"""Regenerate tests/exchange_budgets.json — the per-query shuffle
Exchange contract the registry-wide scale lint enforces
(tests/test_scale_lint.py rule 4).

Prints a diff against the committed budgets so a refresh is a
reviewable act: ADDED rows are new queries, RAISED rows mean a plan
gained a shuffle (justify it in the commit), LOWERED rows are
improvements worth keeping tight.

Caveat: the incremental-dedup queries (q_doc_winnow_incr,
q_doc_despan_incr) run their per-epoch index writes EAGERLY at
query-construction time; the audited plan — and therefore the pinned
budget — covers only the final fold-read union, not the per-epoch
work. The per-epoch plans are audited separately by
tests/test_dedup_incr.py's shape assertions. q_doc_mmr is the same
class: the BM25 pool + candidate token sets run eagerly (the greedy
is driver-side over the collected LIMIT-bounded pool), so its
budget covers only the final local relation; the distributed part
is bm25_topk, budget-pinned via q_doc_bm25.

Usage: python tools/refresh_exchange_budgets.py [--write]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BUDGETS = os.path.join(ROOT, "tests", "exchange_budgets.json")
SF_DIR = "/root/testdata/sf0.001"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    from walex_spark.plans import audit
    from walex_spark.queries import QUERIES
    from walex_spark.session import get_spark

    # MUST match tests/conftest.py's fixture config: localCheckpoint
    # captures its child's output partitioning, so a downstream join
    # elides its Exchange exactly when the captured partition count
    # equals the session's spark.sql.shuffle.partitions — i.e. the
    # exchange COUNT of checkpoint-holding queries depends on this
    # setting (measured: q_doc_minhash_est plans 11 at 32 partitions,
    # 15 at 8). The contract is therefore pinned to the lint session.
    spark = get_spark("exchange-budgets", shuffle_partitions=8)
    old = json.load(open(BUDGETS)) if os.path.exists(BUDGETS) else {}
    new = {}
    for name, fn in QUERIES.items():
        new[name] = audit(fn(spark, SF_DIR)).shuffle_exchanges

    for name in sorted(set(old) | set(new)):
        o, n = old.get(name), new.get(name)
        if o is None:
            print(f"ADDED   {name}: {n}")
        elif n is None:
            print(f"REMOVED {name} (was {o})")
        elif n > o:
            print(f"RAISED  {name}: {o} -> {n}  (a shuffle was added!)")
        elif n < o:
            print(f"LOWERED {name}: {o} -> {n}")

    if args.write:
        with open(BUDGETS, "w") as f:
            json.dump(dict(sorted(new.items())), f, indent=1)
            f.write("\n")
        print(f"wrote {BUDGETS} ({len(new)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
