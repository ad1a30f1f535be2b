"""Order-insensitive result digests.

A drained result is canonicalised the way the oracle check compares it:
columns sorted by name, rows sorted, floats to 10 significant digits (NaN as
one token), so that a change of summation order with the core count (which
also sets the shuffle partitions) does not read as a wrong result. Its
digest is the SHA-256 of that form.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math


def _cell(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, (decimal.Decimal, _dt.date, _dt.datetime, _dt.time, _dt.timedelta)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return [[_cell(k), _cell(x)] for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))]
    if hasattr(v, "asDict"):  # a struct Row
        return [_cell(x) for x in tuple(v)]
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return str(v)


def canonical_rows(columns: list[str], rows) -> list[list]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: json.dumps(r, default=str))
    return out


def digest(columns: list[str], rows) -> str:
    body = json.dumps([sorted(columns), canonical_rows(columns, rows)], default=str)
    return hashlib.sha256(body.encode()).hexdigest()
