#!/usr/bin/env python3
"""Compare two graft.Verify dumps key by key.

For every key (a query name: its output directory and its oracle_sql.json
entry) it compares the column names and types, the rows after check.py's
`norm` (floats rounded to 6 dp, -0.0 as 0.0, row order ignored) and the
oracle SQL text. Prints one line per key and exits 1 on any difference.

Usage: tools/compare_dumps.py <outA> <outB> [key...]
With no keys, every key of either dump is compared.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import norm  # noqa: E402


def load_oracle(out_dir):
    path = f"{out_dir}/oracle_sql.json"
    return json.load(open(path)) if os.path.exists(path) else {}


def output_keys(out_dir):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{out_dir}/*/*.parquet")}


def read_output(con, out_dir, key):
    """(columns as [(name, type)], normalised rows), or None without output."""
    files = sorted(glob.glob(f"{out_dir}/{key}/*.parquet"))
    if not files:
        return None
    cur = con.execute(f"SELECT * FROM read_parquet({files})")
    names = [d[0] for d in cur.description]
    rows = cur.fetchall()
    types = [r[1] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({files})").fetchall()]
    return list(zip(names, types)), norm(rows)


def compare_key(con, a, b, oracle_a, oracle_b, key):
    """The differences of one key, as a list of short messages."""
    diffs = []
    if oracle_a.get(key) != oracle_b.get(key):
        diffs.append("oracle SQL text differs" if key in oracle_a and key in oracle_b
                     else f"oracle SQL only in {'A' if key in oracle_a else 'B'}")
    out_a, out_b = read_output(con, a, key), read_output(con, b, key)
    if out_a is None or out_b is None:
        if out_a is not out_b:
            diffs.append(f"output only in {'A' if out_a is not None else 'B'}")
        return diffs, 0
    (cols_a, rows_a), (cols_b, rows_b) = out_a, out_b
    if cols_a != cols_b:
        diffs.append(f"columns A={cols_a} B={cols_b}")
    if rows_a != rows_b:
        only_a = [r for r in rows_a if r not in set(rows_b)][:2]
        only_b = [r for r in rows_b if r not in set(rows_a)][:2]
        diffs.append(f"rows A={len(rows_a)} B={len(rows_b)} only-A={only_a} only-B={only_b}")
    return diffs, len(rows_a)


def main():
    if len(sys.argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    a, b = sys.argv[1], sys.argv[2]
    oracle_a, oracle_b = load_oracle(a), load_oracle(b)
    keys = sys.argv[3:] or sorted(
        set(oracle_a) | set(oracle_b) | output_keys(a) | output_keys(b))
    con = duckdb.connect()
    n_diff = 0
    for key in keys:
        diffs, n_rows = compare_key(con, a, b, oracle_a, oracle_b, key)
        if diffs:
            n_diff += 1
            print(f"DIFF {key}: " + "; ".join(diffs))
        else:
            print(f"SAME {key} ({n_rows} rows)")
    print(f"{len(keys) - n_diff}/{len(keys)} keys equal")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
