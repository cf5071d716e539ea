"""Output digests for the graft benchmark.

The normalization is the one tools/preflight.py uses for the DuckDB
oracle compare: columns sorted by name, rows in output order, floats
printed with 10 significant digits, NaN as "NaN", everything else str().
Two outputs with equal digests are equal under that compare.
"""
import hashlib
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB types that print like Spark's but hash differently in the
# driver's compare (tools/preflight.py refuses them the same way).
UNSAFE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    return str(v)


def _digest(cols, rows):
    perm = [cols.index(c) for c in sorted(cols)]
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in rows:
        h.update(("\x1f".join(norm(r[j]) for j in perm) + "\x1e").encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def of_parquet(con, path):
    """Digest of a result written as parquet under the directory `path`."""
    cur = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return _digest([d[0] for d in cur.description], cur.fetchall())


def of_oracle(con, sql):
    """Digest of the DuckDB oracle's answer to `sql`."""
    rel = con.sql(sql)
    unsafe = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
              if any(k in str(t).upper() for k in UNSAFE_TYPES)]
    if unsafe:
        raise ValueError(f"oracle emits hash-unsafe types: {unsafe}")
    return _digest(list(rel.columns), rel.fetchall())
