"""Output checks: an order-insensitive digest of a result set.

Values go through ``tests/oracle_util._norm`` (9-digit float rounding,
lists as tuples), the same normal form the oracle self-checks use; the
digest then sorts the rows, so it ignores row and column order. A few
more steps make values from Spark rows, parquet read-backs and DuckDB
compare equal: decimals become floats, whole floats become ints, and
timestamps lose their zone (the engine runs in UTC).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_oracle_util():
    """``tests/oracle_util.py`` by path: ``tests`` is not a package."""
    path = os.path.join(ROOT, "tests", "oracle_util.py")
    spec = importlib.util.spec_from_file_location("oracle_util", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_norm = load_oracle_util()._norm


def canon(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        v = _norm(v)
        if isinstance(v, float) and v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def digest(columns: list[str], rows) -> dict:
    """``{"rows": n, "sha256": ...}`` of a result set whose rows are
    sequences aligned with ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}


def parquet_digest(path: str) -> dict:
    """Digest of a parquet dataset the sink wrote, read back with pyarrow."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    return digest(table.column_names, list(zip(*(c.to_pylist() for c in table.columns))))


def duckdb_digest(con, sql: str) -> dict:
    cur = con.execute(sql)
    return digest([c[0] for c in cur.description], cur.fetchall())
