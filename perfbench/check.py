"""Order-insensitive value hash for correctness gates.

Both sides of a comparison (the engine's rows, DuckDB's rows, a parquet
file read back with pyarrow) are reduced to the same canonical text before
hashing: columns sorted by name, numbers rounded to two decimals and
printed without a trailing ``.00`` when integral (so ``3``, ``3.0`` and
``Decimal('3.00')`` agree), timestamps in ISO form, lists element-wise,
rows sorted.  The two-decimal rounding matches the registry oracles'
contract: float aggregates are rounded identically on both sides, so
summation-order noise cannot flip a value.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal


def _norm(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, Decimal)):
        x = float(v)
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        r = round(x, 2)
        if r == int(r) and abs(r) < 2**53:
            return str(int(r))
        return f"{r:.2f}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def value_hash(columns: list[str], rows) -> str:
    """Hash of ``rows`` (sequences aligned with ``columns``)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return _digest([columns[i] for i in order], lines)


def _digest(columns: list[str], lines: list[str]) -> str:
    text = "\x1f".join(c.lower() for c in columns) + "".join("\x1e" + s for s in lines)
    return f"{len(lines)}:{hashlib.sha256(text.encode()).hexdigest()[:24]}"


def arrow_hash(table, drop: tuple[str, ...] = ()) -> str:
    """Hash of a pyarrow Table, optionally without some columns.

    Vectorized twin of :func:`value_hash` for large results.  Its canonical
    text differs in detail (Arrow's number and timestamp formatting), so a
    comparison hashes both of its sides with the same function."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = sorted((c for c in table.column_names if c not in drop), key=str.lower)
    parts = []
    for c in keep:
        col = table.column(c)
        t = col.type
        if pa.types.is_floating(t) or pa.types.is_decimal(t):
            # + 0.0 turns -0.0 into 0.0
            col = pc.add(pc.round(pc.cast(col, pa.float64()), 2), 0.0)
        parts.append(pc.fill_null(pc.cast(col, pa.string()), "~"))
    lines = (
        sorted(pc.binary_join_element_wise(*parts, "\x1f").to_pylist())
        if parts else []
    )
    return _digest(keep, lines)
