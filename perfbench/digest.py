"""Order-independent digest of a query result.

Each row becomes a canonical string over its columns in name order; the
digest is the sha256 of the sorted row strings plus the column names, so
it is equal for two engines exactly when they return the same multiset of
rows. Numbers compare by value: integers as integers, floats and decimals
by the shortest repr of the double (the registry's queries are built to
return bit-identical doubles on Spark and DuckDB).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f + 0.0)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    if hasattr(v, "tolist"):  # numpy array
        return canon(v.tolist())
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Digest of ``rows`` (sequences aligned with ``columns``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()
