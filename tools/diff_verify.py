#!/usr/bin/env python3
"""Compare two graft.Verify dumps table by table.

Usage: diff_verify.py <dir_a> <dir_b> [prefix,...]

Each query's parquet output in <dir_a> is compared with the one of the
same name in <dir_b>: column names, dtypes and every cell exactly, rows
in file order (columns sorted by name, as check_oracle.canon does). With
a comma-separated prefix list only the matching query names are
compared. A query present in one dump only counts as a difference.
Exits 1 when any table differs, 0 when all are identical.
"""
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
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[2])
    pfx = [p for p in sys.argv[3].split(",") if p] if len(sys.argv) == 4 else []
    sys.exit(main(sys.argv[1], sys.argv[2], pfx))
