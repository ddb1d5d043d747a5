"""Canonical digest of a query result, as tools/check_oracle.py compares
results: columns sorted by name, sub-64-bit integer types folded to BIGINT,
rows sorted, NaN and -0.0 normalised. Two results have the same digest
exactly when check_oracle.py would call them equal (up to hash collision).
"""
import hashlib
import math

INT64_CLASS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
               "UTINYINT", "USMALLINT", "UINTEGER"}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir, temp_dir, threads=2):
    """DuckDB connection with one view per input table; spills go to
    `temp_dir`."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


def digest_rel(rel):
    """(sha256 hex, row count) of a DuckDB relation."""
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    types = ["BIGINT" if t in INT64_CLASS else t for t in types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    h = hashlib.sha256()
    h.update(repr([(cols[i], types[i]) for i in order]).encode())
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def digest_parquet(con, path):
    return digest_rel(con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')"))


def digest_sql(con, sql):
    return digest_rel(con.sql(sql))
