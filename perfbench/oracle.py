"""DuckDB oracle check of the `surface` results.

Each result directory holds one query's rows as Parquet; `oracle_sql.json`
maps query names to the equivalent DuckDB SQL. Rows are compared as sets,
with columns ordered by name and doubles rounded to 4 places.
"""
import glob
import json
import os

import duckdb

TABLES = ["documents", "events", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return round(v, 4)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(cursor):
    cols = [d[0] for d in cursor.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cursor.fetchall()]
    return [cols[i] for i in order], sorted(map(repr, rows))


def check(tables_dir, results_dir):
    """Returns (checked, [failure messages])."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        try:
            got = _rows(con.execute(f"SELECT * FROM read_parquet({files!r})"))
            want = _rows(con.execute(oracle[name]))
        except Exception as e:  # a missing result or a failing oracle query
            failures.append(f"{name}: {e}")
            continue
        if got[0] != want[0]:
            failures.append(f"{name}: columns {got[0]} vs {want[0]}")
        elif got[1] != want[1]:
            failures.append(f"{name}: {len(got[1])} vs {len(want[1])} rows differ")
    return len(oracle), failures
