"""DuckDB oracle check of query outputs.

Each key's `SparkEntry.oracleSql` runs in DuckDB over the generated inputs.
Both sides are reduced to a canonical form (columns by name, rows sorted,
cells by exact repr, temporal values as ISO strings) and compared by
digest. The oracle side is cached per input directory and SQL text.
"""
import datetime
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings"]


def _cell(v):
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if v is None or (isinstance(v, float) and v != v):
        return "None"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "tolist"):
        v = v.tolist()
    return repr(v)


def canonical(df):
    cols = sorted(df.columns, key=lambda c: c.lower())
    rows = sorted(repr(tuple(_cell(v) for v in row)) for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(repr([c.lower() for c in cols]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"cols": [c.lower() for c in cols], "rows": len(rows), "digest": h.hexdigest()}


def expected(data_dir, key, sql, cache_dir):
    tag = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{key}-{tag}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    want = canonical(con.sql(sql).df())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(path + ".tmp", path)
    return want


def check(data_dir, key, sql, dump_dir, cache_dir):
    """Problems found comparing the Spark dump of `key` with its oracle."""
    files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
    if not files:
        return [f"{key}: no output dumped"]
    got = canonical(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    want = expected(data_dir, key, sql, cache_dir)
    if got != want:
        return [f"{key}: output {got['rows']} rows {got['cols']} differs from oracle "
                f"{want['rows']} rows {want['cols']}"]
    return []
