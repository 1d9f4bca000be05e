"""DuckDB oracle check for corpus_batch.

Each query run's written output is compared with the query's oracle SQL
run by DuckDB over the same input tables: columns sorted by name, rows sorted
by every column, then values compared exactly (or, failing that, by
their string form). A query without an oracle fails the check.
"""
import os

import duckdb


def _same(sdf, odf):
    sdf = sdf[sorted(sdf.columns)]
    odf = odf[sorted(odf.columns)]
    if list(sdf.columns) != list(odf.columns) or len(sdf) != len(odf):
        return False
    cols = list(sdf.columns)
    sdf = sdf.sort_values(by=cols).reset_index(drop=True)
    odf = odf.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        a, b = sdf[c], odf[c]
        if not (a.equals(b) or a.astype(str).equals(b.astype(str))):
            return False
    return True


def check(data_dir, runs):
    """Return, per query, how many of its runs' outputs differ from the
    oracle's (a query without an oracle fails every run)."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '6GB'")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{name}/*.parquet')")
    expected = {}
    bad = {}
    for r in runs:
        q = r["query"]
        try:
            if q not in expected:
                expected[q] = con.execute(r["oracle"]).fetchdf() if r["oracle"] else None
            got = con.execute(f"SELECT * FROM read_parquet('{r['dir']}/*.parquet')").fetchdf()
            ok = expected[q] is not None and _same(got, expected[q])
        except (duckdb.Error, OSError, KeyError, ValueError, TypeError):
            ok = False
        bad[q] = bad.get(q, 0) + (0 if ok else 1)
    return bad
