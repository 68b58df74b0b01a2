"""Local replica of the driver's correctness gate.

Runs every entry in walex_spark.queries (or __spark_entry__) against
both Spark and the DuckDB oracle at a given sf dir, then compares
row count, sorted column names, and exact cell values (rows sorted by
all columns). Strict: float cells must match bit-for-bit after
float64 normalization — if this passes, any sane value-hash passes.

Usage: python tools/compare.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif s.dtype == object:
            # Spark DateType reaches pandas as object-of-datetime.date
            # while DuckDB DATE arrives as datetime64 — the driver's
            # canonicalizer equates them, so fold dates into the
            # datetime branch BEFORE the dtype-class check (otherwise
            # the r11 dtype guard would false-positive on every date
            # column, e.g. q_events_retention's cohort_day).
            import datetime as _dt

            non_null = s.dropna()
            if len(non_null) and all(
                isinstance(v, (_dt.date, _dt.datetime)) for v in non_null
            ):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            else:
                df[c] = s.map(lambda v: str(v) if v is not None and not (isinstance(v, float) and math.isnan(v)) else None)
    sort_cols = list(df.columns)
    if sort_cols:
        df = df.sort_values(by=sort_cols, na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def _dtype_class(s: pd.Series) -> str:
    """Coarse dtype class after normalize(). The driver's hash
    canonicalizer distinguishes int 42 from float 42.0, so an Int64
    Spark column vs a float64 oracle column (e.g. DuckDB HUGEINT from
    SUM(BIGINT) materializing as float64) MUST be reported even though
    pandas' == would silently equate the values — the r10 blind spot
    that let two red driver rows through this replica."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "integer"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return [f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"]
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rows: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        ac, bc = _dtype_class(av), _dtype_class(bv)
        if ac != bc and len(a) > 0:
            problems.append(
                f"col {c}: dtype: spark={ac} ({av.dtype}) vs duck={bc} ({bv.dtype}) "
                "— driver hash distinguishes these even when values compare equal"
            )
            continue
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            an, bn = av.to_numpy(), bv.to_numpy()
            same = (an == bn) | (np.isnan(an) & np.isnan(bn))
            if not same.all():
                bad = int((~same).sum())
                idx = int(np.argmax(~same))
                problems.append(
                    f"col {c}: {bad} float mismatches, first at row {idx}: "
                    f"{an[idx]!r} vs {bn[idx]!r} (diff {abs(an[idx]-bn[idx])!r})"
                )
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                bad = int((~eq).sum())
                idx = eq[~eq].index[0]
                problems.append(
                    f"col {c}: {bad} mismatches, first at row {idx}: "
                    f"{av[idx]!r} vs {bv[idx]!r}"
                )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--entry", action="store_true", help="use __spark_entry__ instead of walex_spark.queries")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # accept bare scale-factor names ("sf0.01") as well as full paths
    if "/" not in args.sf:
        args.sf = f"/root/testdata/{args.sf}"

    sys.path.insert(0, ROOT)
    if args.entry:
        import __spark_entry__ as mod

        queries, oracles = mod.queries(), mod.oracle_sql()
        if os.path.normpath(args.sf) != os.path.normpath("/root/testdata/sf0.01"):
            # entry oracles are self-contained for the driver's fixed
            # sf0.01 (read_parquet paths baked in); comparing them at
            # another sf would silently mix scales
            print(
                f"WARNING: --entry oracles read sf0.01 parquet; --sf {args.sf} "
                "will mismatch on documents/embeddings queries "
                "(use the view-based registry without --entry)",
                file=sys.stderr,
            )
    else:
        from walex_spark import queries as qmod

        queries, oracles = qmod.QUERIES, qmod.ORACLES

    from walex_spark.session import get_spark

    spark = get_spark("compare")
    con = duck_connection(args.sf)

    names = args.names or list(queries)
    failures = 0
    for name in names:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(sdf)} rows, {t1-t0:.1f}s) [rows-only]")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = compare_frames(sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL {name} ({len(sdf)} vs {len(ddf)} rows, {t1-t0:.1f}s)")
            for p in problems[:5]:
                print(f"   {p}")
        else:
            print(f"OK   {name} ({len(sdf)} rows, spark {t1-t0:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
