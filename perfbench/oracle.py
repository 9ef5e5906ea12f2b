"""Checks query results against DuckDB running the query's oracle SQL on
the same parquet tables, with the repository's comparison rule
(`compare` in tools/oracle_check.py, which must be on sys.path). This
module adds only the cache of DuckDB's answers."""
import glob
import hashlib
import os

from oracle_check import TABLES, compare


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected(con, digest, sql, cache_dir):
    """The oracle's answer, computed once per (data, SQL) and kept as a
    pickle (which keeps the dtypes the comparison checks)."""
    import pandas as pd
    key = hashlib.sha256((digest + sql).encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    want = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check(data_dir, out_dir, checked, oracle_sql, cache_dir):
    """`checked` maps each result directory under out_dir to its query.
    Returns {result directory: mismatch message} for every failing one."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    digest = data_digest(data_dir)
    bad = {}
    for rel, name in sorted(checked.items()):
        files = sorted(glob.glob(os.path.join(out_dir, rel, "*.parquet")))
        if not files:
            bad[rel] = "no output"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            want = expected(con, digest, oracle_sql[name], cache_dir)
        except Exception as e:  # a failing oracle or unreadable output is a mismatch
            bad[rel] = str(e).splitlines()[0]
            continue
        ok, msg = compare(got, want)
        if not ok:
            bad[rel] = msg
    con.close()
    return bad
