"""Order-insensitive result comparison, done outside every timed span.

Two results agree when they have the same column names (in any order),
the same number of rows, and the same multiset of rows. Numbers compare
by value with a relative tolerance of 1e-6, so a float sum that another
engine adds up in a different order still matches.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _key(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 1e15:
            return str(int(v))
        return format(v, ".9g")
    if isinstance(v, tuple):
        return "(" + ",".join(_key(x) for x in v) + ")"
    return str(v)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows normalised, reordered to match and
    sorted by a rounding-stable key."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    normed.sort(key=lambda r: tuple(_key(x) for x in r))
    return [columns[i] for i in order], normed


def mismatch(expected: tuple[list[str], list[tuple]], columns: list[str], rows) -> str | None:
    """``None`` when ``rows`` match the canonical ``expected`` result,
    else a one-line reason."""
    exp_cols, exp_rows = expected
    cols, got = canonical(columns, rows)
    if cols != exp_cols:
        return f"columns {cols} != {exp_cols}"
    if len(got) != len(exp_rows):
        return f"{len(got)} rows != {len(exp_rows)}"
    for i, (a, b) in enumerate(zip(got, exp_rows)):
        if not _same(a, b):
            return f"row {i}: {a!r} != {b!r}"[:300]
    return None
