"""Order-insensitive digest of a query result, the way the DuckDB-oracle
compare (`tools/check_parity.py`) sees it: columns sorted by name, every
cell turned into the compare's token (`norm`), rows sorted, then SHA-256.
Both the engine's result (parquet) and the oracle's result go through
DuckDB and pandas, so the two sides tokenize identically."""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_parity import TABLES, norm  # noqa: E402


def of_frame(df):
    cols = sorted(df.columns)
    rows = sorted([norm(v) for v in row] for row in df[cols].values.tolist())
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def of_parquet(path):
    con = duckdb.connect()
    return of_frame(con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf())


def oracle_connection(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def of_sql(con, sql):
    return of_frame(con.execute(sql).fetchdf())
