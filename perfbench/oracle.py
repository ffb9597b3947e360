"""Correctness gate: DuckDB evaluates graft's own oracle SQL
(`SparkEntry.oracleSql`) on the generated inputs, and each result is
compared with the rows graft returned.

Both sides are canonicalised by `norm` from `tools/compare_oracle.py`,
the repo's own oracle compare (columns sorted by name, object values
stringified, rows sorted). The comparison uses an order-insensitive
checksum of that canonical frame (row count, column names and dtypes,
and a hash of every row).
"""
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'tools')
if not os.path.isfile(os.path.join(_TOOLS, 'compare_oracle.py')):
    sys.exit(f'benchmark error: {_TOOLS}/compare_oracle.py not found: '
             'run from the root of a graft checkout')
sys.path.insert(0, _TOOLS)
from compare_oracle import norm  # noqa: E402  (importing only parses argv)

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def checksum(df):
    """Canonical checksum of a result frame; equal frames (in the
    compare_oracle.py sense) give equal checksums."""
    df = norm(df)
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(df[c].dtype)] for c in df.columns]).encode())
    h.update(str(len(df)).encode())
    if len(df):
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


def _connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expected(data_dir, oracle_sql, tmp_dir, cache_path=None):
    """{query: checksum} of every oracle on the inputs in `data_dir`.
    Answers are cached in `cache_path` (keyed by the caller per seed and
    generator version) so a repeated seed skips DuckDB."""
    cache = {}
    if cache_path and os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    todo = {n: s for n, s in oracle_sql.items()
            if n not in cache or cache[n]['sql'] != s}
    if todo:
        os.makedirs(tmp_dir, exist_ok=True)
        con = _connect(data_dir, tmp_dir)
        try:
            for name, sql in todo.items():
                cache[name] = {'sql': sql, 'sum': checksum(con.sql(sql).df())}
        finally:
            con.close()
        if cache_path:
            os.makedirs(os.path.dirname(cache_path), exist_ok=True)
            with open(cache_path, 'w') as f:
                json.dump(cache, f)
    return {n: cache[n]['sum'] for n in oracle_sql}


def actual(rows_dir, name):
    """Checksum of the rows graft returned for `name`, read back from the
    parquet the harness dumped."""
    con = duckdb.connect()
    try:
        return checksum(con.sql(f"SELECT * FROM '{rows_dir}/{name}/*.parquet'").df())
    finally:
        con.close()
