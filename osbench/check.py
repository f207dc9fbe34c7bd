"""Result normalization and comparison against oracle answers."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re

_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def canon(v):
    """A comparable form shared by Spark rows and DuckDB rows: numbers
    as float, dates and timestamps as one string format."""
    if v is None:
        return None
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d") + " 00:00:00.000000"
    if isinstance(v, str) and _DATE.match(v):
        return v + " 00:00:00.000000"
    return v


def rows_from_spark(rows, rename: dict | None = None) -> list[dict]:
    rename = rename or {}
    out = []
    for r in rows:
        d = r.asDict()
        out.append({rename.get(k, k): canon(v) for k, v in d.items()})
    return out


def rows_from_duck(cols: list[str], rows, rename: dict | None = None) -> list[dict]:
    rename = rename or {}
    names = [rename.get(c, c) for c in cols]
    return [{n: canon(v) for n, v in zip(names, r)} for r in rows]


def _key(row: tuple):
    return tuple(
        (0, "") if v is None else (1, round(v, 3)) if isinstance(v, float) else (2, str(v)) for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def compare(got: list[dict], want: list[dict], ordered: bool = False) -> str | None:
    """None when ``got`` equals ``want`` on want's columns, else a
    one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    if not want:
        return None
    cols = list(want[0])
    missing = [c for c in cols if c not in got[0]]
    if missing:
        return f"missing columns {missing} (have {list(got[0])})"
    g = [tuple(r[c] for c in cols) for r in got]
    w = [tuple(r[c] for c in cols) for r in want]
    if not ordered:
        g, w = sorted(g, key=_key), sorted(w, key=_key)
    for i, (a, b) in enumerate(zip(g, w)):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def corrupt(rows: list[dict]) -> list[dict]:
    """Fault injection: change one value of one row."""
    if not rows:
        return [{"_injected": 1.0}]
    bad = [dict(r) for r in rows]
    k = next(iter(bad[0]))
    v = bad[0][k]
    bad[0][k] = (v + 1.0) if isinstance(v, float) else f"{v}~"
    return bad
