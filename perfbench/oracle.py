"""DuckDB reference answers for the ``curate`` queries.

``norm`` and ``value_hash`` are the comparison of ``tools/check_oracle.py``
(order-insensitive hash over name-sorted columns, doubles at 6 decimals),
kept here so the benchmark's check does not move when a tool does.
"""

from __future__ import annotations

import hashlib
import math

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):  # datetime/date
        s = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return s.removesuffix("+00:00")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    row_hashes = sorted(
        hashlib.md5("|".join(norm(r[i]) for i in order).encode()).hexdigest()
        for r in rows
    )
    return hashlib.md5("\n".join(row_hashes).encode()).hexdigest()


def duckdb_hashes(sf_dir: str, names) -> dict[str, dict]:
    """Row count, sorted column names and value hash of each query's oracle
    over the parquet tables in ``sf_dir``."""
    import duckdb

    from streamroom_bigdata_spark import registry

    sql = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        res = con.execute(sql[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"rows": len(rows), "columns": sorted(cols), "hash": value_hash(rows, cols)}
    con.close()
    return out
