#!/usr/bin/env python3
"""Compare two Verify dumps query by query.

Usage: python3 tools/dump_diff.py <parent_out> <change_out>

Each argument is a directory that `runMain graft.Verify <sfDir> <out>`
wrote: one parquet directory per query plus oracle_sql.json. Every query
directory of either side is compared with its namesake on the other on
column names, row count and the rows themselves. Rows are compared as
lexsorted tuples of Python `repr` strings, after arrays and numpy scalars
are turned into Python lists and scalars, so every value is compared
exactly (a float must match to the last bit). The oracle_sql.json files
are compared byte for byte. This covers the queries without an oracle
too, which tools/oracle_check.py skips. Prints one line per difference and
a summary line; exits 1 on any difference, 0 otherwise.

Needs pandas (with pyarrow).
"""
import glob
import os
import sys

import pandas as pd


def exact(v):
    """A value in a form whose repr is exact and stable across reads."""
    if isinstance(v, dict):
        return {k: exact(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [exact(x) for x in v]
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return exact(v.tolist())
    return v


def load(out, name):
    """(columns, lexsorted row tuples) of one dump, or None when absent."""
    files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    rows = sorted(tuple(repr(exact(v)) for v in row)
                  for row in df.itertuples(index=False, name=None))
    return list(df.columns), rows


def diff(a, b, name):
    """One line naming how query `name` differs, or None when identical."""
    da, db = load(a, name), load(b, name)
    if da is None or db is None:
        return f"{name}: dump missing on the {'parent' if da is None else 'change'} side"
    (ca, ra), (cb, rb) = da, db
    if ca != cb:
        return f"{name}: columns {ca} vs {cb}"
    if len(ra) != len(rb):
        return f"{name}: rows {len(ra)} vs {len(rb)}"
    for x, y in zip(ra, rb):
        if x != y:
            n = sum(p != q for p, q in zip(ra, rb))
            return f"{name}: {n} sorted rows differ; first {x} vs {y}"
    return None


def main(argv):
    if len(argv) != 3:
        print("usage: dump_diff.py <parent_out> <change_out>", file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    names = sorted({d for out in (a, b) for d in os.listdir(out)
                    if os.path.isdir(os.path.join(out, d))})
    differing = []
    for name in names:
        line = diff(a, b, name)
        if line:
            print(line)
            differing.append(name)
    with open(os.path.join(a, "oracle_sql.json"), "rb") as fa, \
            open(os.path.join(b, "oracle_sql.json"), "rb") as fb:
        same_sql = fa.read() == fb.read()
    print(f"{len(names)} compared; differing: {differing}; oracle_sql.json "
          + ("identical" if same_sql else "DIFFERS"))
    return 0 if same_sql and not differing else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
