#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the parquet dumps produced by `graft.Verify` (one dir per query) plus
`oracle_sql.json`, runs each oracle in DuckDB against the same sf tables, and
compares: row count, column set (sorted by name), and values (rows sorted).
Reports exact match, plus max float deviation when not exact, so parity bugs
are visible before the driver runs.

With --against, compares two Verify dump directories instead (say, the
parent commit's and a change's), query by query after the same `canon`
normalization, and lists every query whose content differs.

Usage: preverify.py <sfDir> <outDir>
       preverify.py --against <otherOutDir> <outDir>
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison (dates arrive as datetime64 from duckdb
    # but as object-of-datetime.date from parquet via pyarrow)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            import datetime
            if df[c].map(lambda v: isinstance(v, datetime.date) or v is None).all():
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            else:
                df[c] = df[c].map(
                    lambda v: str(v) if v is not None and not (
                        isinstance(v, float) and math.isnan(v)) else None)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          na_position="first")


def only_filter():
    """The query names SPARK_GRAFT_ONLY keeps, or None for all."""
    only = os.environ.get("SPARK_GRAFT_ONLY")
    return {n.strip() for n in only.split(",")} if only else None


def dump_names(out_dir: str, other_dir: str) -> list:
    """The queries dumped in either directory, SPARK_GRAFT_ONLY applied."""
    names = {n for d in (out_dir, other_dir) for n in os.listdir(d)
             if os.path.isdir(os.path.join(d, n))}
    keep = only_filter()
    return sorted(names if keep is None else names & keep)


def compare_dumps(out_dir: str, other_dir: str) -> list:
    """(query, reason) for every query whose dump differs between the two
    Verify output directories; empty when every dump is identical."""
    diffs = []
    for name in dump_names(out_dir, other_dir):
        if not os.path.isdir(os.path.join(other_dir, name)):
            diffs.append((name, f"missing in {other_dir}"))
            continue
        if not os.path.isdir(os.path.join(out_dir, name)):
            diffs.append((name, f"missing in {out_dir}"))
            continue
        a = canon(pd.read_parquet(os.path.join(out_dir, name)))
        b = canon(pd.read_parquet(os.path.join(other_dir, name)))
        if list(a.columns) != list(b.columns):
            diffs.append((name, f"columns {list(a.columns)} vs "
                                f"{list(b.columns)}"))
        elif len(a) != len(b):
            diffs.append((name, f"rows {len(a)} vs {len(b)}"))
        elif not a.equals(b):
            bad = [c for c in a.columns if not a[c].equals(b[c])]
            diffs.append((name, f"values differ in {bad}"))
    return diffs


def main_against(other_dir: str, out_dir: str) -> int:
    diffs = compare_dumps(out_dir, other_dir)
    for name, why in diffs:
        print(f"DIFF {name}: {why}")
    n = len(dump_names(out_dir, other_dir))
    print(f"\n{len(diffs)} of {n} dumps differ")
    return 1 if diffs else 0


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    # subset iteration: honor the same filter graft.Verify used, so queries
    # that were deliberately not dumped don't report as failures
    keep = only_filter()
    if keep is not None:
        oracles = {n: s for n, s in oracles.items() if n in keep}
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            mine = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_fail += 1
            continue
        try:
            oracle = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        a, b = canon(mine), canon(oracle)
        if sorted(a.columns) != sorted(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
            continue
        if a.equals(b):
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
            continue
        # diagnose: which columns differ, max float deviation
        bad = []
        for c in a.columns:
            if not a[c].equals(b[c]):
                try:
                    dev = (pd.to_numeric(a[c]) - pd.to_numeric(b[c])).abs().max()
                    bad.append(f"{c} (maxdev={dev:.3e})")
                except Exception:
                    nbad = int((a[c].fillna('\0') != b[c].fillna('\0')).sum())
                    bad.append(f"{c} ({nbad} cells)")
        print(f"FAIL {name}: value mismatch in {bad}")
        n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--against":
        sys.exit(main_against(sys.argv[2], sys.argv[3]))
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
