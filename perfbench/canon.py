"""Order-insensitive digest of a query result.

Cells are canonicalized exactly as the oracle-parity test suite does
(exact float ``repr``, Decimal as float, NULL and NaN sentinels, lists
recursed), columns are ordered by lower-cased name and rows are sorted, so
a Spark result and its DuckDB oracle give the same digest when they hold
the same multiset of rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(columns, rows) -> dict:
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\x1e")
    return {"columns": [cols[i] for i in order], "rows": len(canon), "sha256": h.hexdigest()}
