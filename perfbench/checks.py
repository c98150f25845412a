"""Output checks against the engine registry's DuckDB oracles.

The protocol is the repository's self-check one (tools/selfcheck.py):
columns sorted by name, rows sorted, doubles rounded to 1e-9, timestamps
formatted, then an md5 over the canonical lines. A published table must
hash-match its registry query's oracle SQL run by DuckDB over the same
generated input tables.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os

import duckdb


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{round(val, 9):.9f}"
    if isinstance(val, decimal.Decimal):
        return f"{val:f}"
    if isinstance(val, datetime.datetime):
        return val.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(val, datetime.date):
        return val.isoformat()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return str(val)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest(), len(lines)


def parquet_glob(path):
    """DuckDB source for a parquet table: a file, or a Spark output
    directory (partition subdirectories included, partition columns
    left out, as the engine's published schemas define them)."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
    return f"read_parquet('{path}')"


def connect(input_dir):
    """A DuckDB connection with one view per generated input table."""
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for src in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(src)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM {parquet_glob(src)}")
    return con


def check_table(con, name, path, sql):
    """None when the published table at `path` hash-matches `sql`,
    else a message saying how it differs."""
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        return f"{name}: no published parquet files under {path}"
    got = con.sql(f"SELECT * FROM {parquet_glob(path)}")
    grows, gcols = got.fetchall(), [d[0] for d in got.description]
    exp = con.sql(sql)
    erows, ecols = exp.fetchall(), [d[0] for d in exp.description]
    if sorted(gcols) != sorted(ecols):
        return f"{name}: columns {sorted(gcols)} vs oracle {sorted(ecols)}"
    gh, gn = table_hash(grows, gcols)
    eh, en = table_hash(erows, ecols)
    if (gh, gn) != (eh, en):
        return f"{name}: {gn} rows hash {gh} vs oracle {en} rows hash {eh}"
    return None


def run_checks(input_dir, checks):
    """Failure messages of every (name, path, sql) check."""
    con = connect(input_dir)
    return [m for m in (check_table(con, c["name"], c["path"], c["sql"]) for c in checks) if m]
