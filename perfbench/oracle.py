"""Output checks: each frame the harness wrote is compared with its DuckDB
oracle on the same generated inputs, the way the engine's correctness gate
compares them: same column names (sorted), row count, dtypes and exact
cell values, rows in file order unless the check compares a multiset."""
import duckdb
import pandas as pd

from gen import STAR_TABLES


def _canon(df, sort_rows):
    df = df.reindex(sorted(df.columns), axis=1)
    if sort_rows and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _compare(got, want, sort_rows):
    got, want = _canon(got, sort_rows), _canon(want, sort_rows)
    if list(got.columns) != list(want.columns):
        return f"columns spark={list(got.columns)} duckdb={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} duckdb={len(want)}"
    for c in got.columns:
        if str(got[c].dtype) != str(want[c].dtype):
            return f"dtype[{c}] spark={got[c].dtype} duckdb={want[c].dtype}"
    try:
        pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False)
    except AssertionError as e:
        return "values: " + " ".join(str(e).split("\n")[1:3])[:200]
    return None


def run_checks(checks, data_dir, star_views):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if star_views:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = []
    for c in checks:
        res = {"name": c["name"]}
        if c["error"]:
            res.update(status="FAIL", detail=c["error"])
        elif c["oracle"] is None:
            res.update(status="NO ORACLE")
        else:
            try:
                got = con.sql(f"SELECT * FROM '{c['path']}/*.parquet'").df()
                want = con.sql(c["oracle"]).df()
                problem = _compare(got, want, c["sort_rows"])
            except Exception as e:  # an oracle that cannot run is a failed check
                problem = f"exception {str(e)[:200]}"
            res.update(status="FAIL", detail=problem) if problem else \
                res.update(status="PASS", rows=len(got))
        out.append(res)
    return out
