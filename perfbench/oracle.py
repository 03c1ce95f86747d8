"""DuckDB oracle check for the benchmark's query operations.

A query's Spark rows (written to parquet by the JVM after its first pass)
must match its oracle SQL (``SparkEntry.oracleSql``) run by DuckDB on the
same input tables. Both sides are reduced to a digest with the
normalisation of the engine's ``tools/check.py``: columns sorted by name,
floats compared exactly, decimals kept distinct from integers and
rejected as output types, rows compared as an unordered multiset. The
oracle digest is cached per (SQL, input files).
"""
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def digest(table):
    """(row count, sha256) of an arrow table, or raises ValueError."""
    dec = [f"{f.name}={f.type}" for f in table.schema if "decimal" in str(f.type)]
    if dec:
        raise ValueError(f"decimal output column(s) {dec}")
    cols = sorted(table.column_names)
    rows = sorted((repr(tuple(_norm(r[c]) for c in cols)) for r in table.to_pylist()))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def _inputs_key(input_dir, sql):
    h = hashlib.sha256(sql.encode())
    for f in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_digest(input_dir, sql, cache_dir):
    key = _inputs_key(input_dir, sql)
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            return tuple(json.load(fh))
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    try:
        for f in glob.glob(os.path.join(input_dir, "*.parquet")):
            name = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        result = digest(con.execute(sql).fetch_arrow_table())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(result, fh)
    return result


def check(spark_out_dir, input_dir, sql, cache_dir):
    """None when the Spark output matches the oracle, else a reason."""
    files = glob.glob(os.path.join(spark_out_dir, "*.parquet"))
    if not files:
        return "no Spark output"
    try:
        got = digest(pq.read_table(files))
        want = oracle_digest(input_dir, sql, cache_dir)
    except Exception as e:  # a failing oracle or output read is a failed check
        return f"{type(e).__name__}: {e}"
    if got[0] != want[0]:
        return f"{got[0]} rows, oracle has {want[0]}"
    if got[1] != want[1]:
        return "rows differ from the oracle"
    return None
