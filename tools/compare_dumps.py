#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/compare_dumps.py <dumpA> <dumpB> [<sfDir>]

Each dump is a `graft.Verify <sfDir> <outDir>` output directory: one
parquet directory per query plus oracle_sql.json. Every query's Spark
result in A is compared with B's after the same normalization as
tools/check.py (columns sorted by name, rows sorted), exactly: values
and dtypes. With <sfDir>, each dump's oracle_sql.json is also run in
DuckDB over that fixture and the two oracle results are compared the
same way, so an oracle text rewrite that changes a result shows too.

Prints one line per difference and a summary; exit 0 = identical.
"""
import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import TABLES, normalize  # noqa: E402


def queries(dump: str) -> set:
    return {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}


def same(a: pd.DataFrame, b: pd.DataFrame) -> str:
    """'' when equal, else a one-line reason."""
    a, b = normalize(a), normalize(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    return ""


def oracle_results(sf_dir: str, dump: str, names) -> dict:
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    sql = json.load(open(os.path.join(dump, "oracle_sql.json")))
    out = {}
    for n in names:
        if n not in sql:
            out[n] = "no oracle SQL"
            continue
        try:
            out[n] = con.execute(sql[n]).df()
        except Exception as e:  # an oracle error is a result to compare too
            out[n] = f"oracle error: {str(e)[:200]}"
    return out


def main(a: str, b: str, sf_dir: str = None) -> int:
    qa, qb = queries(a), queries(b)
    diffs = 0
    for n in sorted(qa ^ qb):
        print(f"DIFF {n}: only in {a if n in qa else b}")
        diffs += 1
    both = sorted(qa & qb)
    for n in both:
        why = same(pd.read_parquet(os.path.join(a, n)), pd.read_parquet(os.path.join(b, n)))
        if why:
            print(f"DIFF {n}: spark {why}")
            diffs += 1
    checked = f"{len(both)} Spark results"
    if sf_dir:
        ra, rb = oracle_results(sf_dir, a, both), oracle_results(sf_dir, b, both)
        for n in both:
            x, y = ra[n], rb[n]
            if isinstance(x, str) or isinstance(y, str):
                why = "" if x == y else f"{x!s:.100} vs {y!s:.100}"
            else:
                why = same(x, y)
            if why:
                print(f"DIFF {n}: oracle {why}")
                diffs += 1
        checked += f" and {len(both)} oracle results"
    print(f"\n{checked} compared, {diffs} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
