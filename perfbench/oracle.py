"""Query-suite output check: each query's row count and order-insensitive
hash against its DuckDB mirror (`SparkEntry.oracleSql`) on the same
tables. Oracle answers depend only on the SQL text and the data, so they
are cached per checkout.
"""
import datetime
import decimal
import hashlib
import json
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """A value as text both engines' results agree on: numbers as
    doubles, timestamps in UTC, maps and structs by key."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v) + 0.0
        return "nan" if f != f else repr(f)
    if isinstance(v, bytes):
        return "b" + v.hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "s" + str(v)


def digest(table):
    """(sorted column names, row count, order-insensitive row hash)."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("|".join(canon(col[i]) for col in data)
                  for i in range(table.num_rows))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, table.num_rows, h


def _data_key(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def check(data_dir, results_dir, cache_dir):
    """Problems found, one line each (empty when every query matches).
    Queries that wrote no result already failed in the engine run."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    os.makedirs(cache_dir, exist_ok=True)
    data_key = _data_key(data_dir)
    con = None
    problems = []
    for q, sql in sorted(sqls.items()):
        out = os.path.join(results_dir, q)
        if not os.path.isdir(out):
            continue
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as fh:
                want = json.load(fh)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads=4")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, t)}.parquet'")
            cols, n, h = digest(con.execute(sql).arrow())
            want = {"columns": cols, "rows": n, "hash": h}
            with open(cached, "w") as fh:
                json.dump(want, fh)
        cols, n, h = digest(pq.read_table(out))
        if cols != want["columns"]:
            problems.append(f"{q}: columns {cols}, oracle {want['columns']}")
        elif n != want["rows"]:
            problems.append(f"{q}: {n} rows, oracle {want['rows']}")
        elif h != want["hash"]:
            problems.append(f"{q}: row hash differs from the oracle")
    if con is not None:
        con.close()
    return problems
