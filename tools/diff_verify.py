#!/usr/bin/env python3
"""Compare two graft.Verify dumps table by table.

Usage: diff_verify.py <dir_a> <dir_b> [prefix,...]

Each query's parquet output in <dir_a> is compared with the one of the
same name in <dir_b>: column names, dtypes and every cell exactly, rows
in file order (columns sorted by name, as check_oracle.canon does). With
a comma-separated prefix list only the matching query names are
compared. A query present in one dump only counts as a difference.
The two dumps' oracle_sql.json files are compared the same way, entry
by entry: an entry whose SQL text differs, or that only one dump has,
counts as a difference. Exits 1 when any table or oracle text differs,
0 when all are identical.
"""
import json
import os
import sys

import duckdb
import pandas as pd

from check_oracle import canon


def tables(out_dir: str, prefixes: list) -> set:
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))
            and (not prefixes or n.startswith(tuple(prefixes)))}


def main(dir_a: str, dir_b: str, prefixes: list) -> int:
    con = duckdb.connect()
    in_a, in_b = tables(dir_a, prefixes), tables(dir_b, prefixes)
    n_same = n_diff = 0
    for name in sorted(in_a | in_b):
        if name not in in_a or name not in in_b:
            print(f"DIFF {name}: only in {dir_a if name in in_a else dir_b}")
            n_diff += 1
            continue
        a, b = (canon(con.sql(f"SELECT * FROM '{d}/{name}/*.parquet'").df(),
                      False) for d in (dir_a, dir_b))
        try:
            pd.testing.assert_frame_equal(a, b, check_exact=True)
        except AssertionError as e:
            print(f"DIFF {name}: {str(e).splitlines()[0][:200]}")
            n_diff += 1
            continue
        n_same += 1
    print(f"{n_same} identical / {n_diff} different")
    n_oracle_diff = diff_oracles(dir_a, dir_b, prefixes)
    return 1 if n_diff or n_oracle_diff else 0


def diff_oracles(dir_a: str, dir_b: str, prefixes: list) -> int:
    """Compares the dumps' oracle SQL texts; returns the number that differ."""
    a, b = ({n: sql for n, sql in json.load(
                 open(os.path.join(d, "oracle_sql.json"))).items()
             if not prefixes or n.startswith(tuple(prefixes))}
            for d in (dir_a, dir_b))
    n_same = n_diff = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            only = dir_a if name in a else dir_b
            print(f"DIFF oracle {name}: only in {only}")
            n_diff += 1
        elif a[name] != b[name]:
            print(f"DIFF oracle {name}: SQL text differs")
            n_diff += 1
        else:
            n_same += 1
    print(f"{n_same} oracle texts identical / {n_diff} different")
    return n_diff


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[2])
    pfx = [p for p in sys.argv[3].split(",") if p] if len(sys.argv) == 4 else []
    sys.exit(main(sys.argv[1], sys.argv[2], pfx))
