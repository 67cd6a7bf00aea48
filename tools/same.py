#!/usr/bin/env python3
"""Check that two graft.Verify output dirs hold the same results: per query
the same columns in the same order, the same dtypes and the same multiset
of rows (compared as strings, as the driver hashes them), plus a
byte-identical oracle_sql.json. Per-run temp dir names in string values
(q51's sink paths, e.g. /dev/shm/q51_out18363995713519980692/...) are
masked first, together with the base dir they sit in, so the same fixture
under /tmp and under /dev/shm compares equal.

Usage: python3 tools/same.py <verifyDirA> <verifyDirB> [query ...]
(no query names: every query present in either dir). Exits 1 on any
difference.
"""
import os, re, sys, glob
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon

# a temp dir, base included: createTempDirectory appends >= 10 digits
TEMP_DIR = re.compile(r"(?:/[\w.-]+)*?/([A-Za-z_][\w.-]*?)\d{10,}")


def mask(v):
    """`v` with each temp dir path ending in its name prefix and `#`."""
    return TEMP_DIR.sub(r"<tmp>/\1#", v)


def load(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def as_strings(df):
    return df.apply(lambda c: c.astype(str).map(mask))


def differ(a, b):
    if a is None or b is None:
        return f"MISSING in {'A' if a is None else 'B'}"
    if list(a.columns) != list(b.columns):
        return f"COLS a={list(a.columns)} b={list(b.columns)}"
    dt = [(c, a[c].dtype, b[c].dtype) for c in a.columns if a[c].dtype != b[c].dtype]
    if dt:
        return "DTYPE " + ", ".join(f"{c}: {x} vs {y}" for c, x, y in dt)
    if len(a) != len(b):
        return f"ROWS a={len(a)} b={len(b)}"
    sa, sb = canon(as_strings(a)), canon(as_strings(b))
    neq = (sa != sb).any(axis=1)
    if neq.any():
        i = neq.idxmax()
        return f"VAL row={i} a={sa.loc[i].to_dict()} b={sb.loc[i].to_dict()}"
    return None


def oracle_bytes(out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json"), "rb") as f:
        return f.read()


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    da, db = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]

    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

    names = only or sorted(queries(da) | queries(db))
    n_diff = 0
    for name in names:
        err = differ(load(da, name), load(db, name))
        if err:
            n_diff += 1
            print(f"DIFF {name}: {err}")
        else:
            print(f"SAME {name}")
    same_oracle = oracle_bytes(da) == oracle_bytes(db)
    print(f"oracle_sql.json {'identical' if same_oracle else 'DIFFERS'}")
    print(f"\n{len(names) - n_diff} same, {n_diff} differ")
    sys.exit(0 if n_diff == 0 and same_oracle else 1)


if __name__ == "__main__":
    main()
