#!/usr/bin/env python3
"""Replay a Verify dump's oracle_sql.json in DuckDB and compare each result
with the Spark dump of the same query.

Usage: python3 tools/oracle_check.py <verify_out> <sfDir>

<verify_out> is the directory `runMain graft.Verify <sfDir> <verify_out>`
wrote: one parquet directory per query plus oracle_sql.json. <sfDir> holds
the scale-factor tables (<table>.parquet). Each table is registered as a
DuckDB view, every oracle query runs, and its result is compared with the
dump on row count, column names and the rows themselves (values as
strings, rows lexsorted on every column). Prints one line per mismatch and
a summary line that also carries the sha256 of the oracle_sql.json it
checked; exits 1 on any mismatch or missing dump, 0 otherwise.

Needs duckdb (1.0.0) and pandas.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd


def main(argv):
    if len(argv) != 3:
        print("usage: oracle_check.py <verify_out> <sfDir>", file=sys.stderr)
        return 2
    out, sf = argv[1], argv[2]
    with open(os.path.join(out, "oracle_sql.json"), "rb") as f:
        raw = f.read()
    oracle = json.loads(raw)
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    fails = []
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        if not files:
            print(f"{name}: no Spark dump")
            fails.append(name)
            continue
        try:
            want = con.execute(oracle[name]).df()
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        except Exception as e:  # a failing oracle or dump is a mismatch
            print(f"{name}: error {e}")
            fails.append(name)
            continue
        cols = list(want.columns)
        if cols != list(got.columns):
            print(f"{name}: columns {cols} vs {list(got.columns)}")
        elif len(want) != len(got):
            print(f"{name}: rows {len(want)} vs {len(got)}")
        else:
            w = want.astype(str).sort_values(cols, kind="mergesort").reset_index(drop=True)
            g = got.astype(str).sort_values(cols, kind="mergesort").reset_index(drop=True)
            if w.equals(g):
                continue
            diff = (w != g).any(axis=1)
            print(f"{name}: {int(diff.sum())} rows differ; first oracle / Spark row:")
            print(w[diff].head(1).to_string())
            print(g[diff].head(1).to_string())
        fails.append(name)
    ok = len(oracle) - len(fails)
    print(f"{ok}/{len(oracle)} oracles match; oracle_sql.json sha256 "
          f"{hashlib.sha256(raw).hexdigest()}" + (f"; mismatched: {fails}" if fails else ""))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
