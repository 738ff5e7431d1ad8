"""Result checks made apart from the engine.

``compare_rows`` matches two results as multisets of rows.  Floats
match within one unit in the last decimal place the column is rounded
to (the registry rounds sums to 2 places and means to 4; two engines
that add in a different order can differ by that one unit), or within
a relative 1e-9 when the column is not rounded.  Everything else —
ints, strings, dates, timestamps, NULLs, nested lists — must be equal.
"""

from __future__ import annotations

import datetime
import decimal
import math

#: finest rounding recognised; a column with more decimals than this is
#: treated as unrounded and compared with ``REL_TOL``
MAX_ROUNDED_DECIMALS = 6
REL_TOL = 1e-9


class CheckFailed(AssertionError):
    pass


def _norm(v):
    """Canonical Python value: numbers -> float/int, datetimes naive."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return v + 0.0  # -0.0 -> 0.0
    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(tuple(v))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def _decimals(x: float) -> int:
    """Decimal places in the shortest repr of ``x`` (rounded values
    print short: 12.35, 0.1235)."""
    if not math.isfinite(x):
        return 0
    r = repr(x)
    if "e" in r or "E" in r:
        mant, exp = r.lower().split("e")
        d = len(mant.split(".")[1]) if "." in mant else 0
        return max(0, d - int(exp))
    return len(r.split(".")[1]) if "." in r else 0


def float_tolerances(rows_a, rows_b, ncols: int) -> list[float | None]:
    """Per column: absolute tolerance (one unit in the last rounded
    place), ``None`` for a relative comparison, for float columns."""
    tols: list[float | None] = []
    for i in range(ncols):
        dec = -1
        for rows in (rows_a, rows_b):
            for r in rows:
                v = r[i]
                if isinstance(v, float) and not float(v).is_integer():
                    dec = max(dec, _decimals(v))
        if dec < 0:
            tols.append(1e-9)  # all integral values: exact up to noise
        elif dec <= MAX_ROUNDED_DECIMALS:
            tols.append(10.0 ** -dec * 1.001)
        else:
            tols.append(None)
    return tols


def _close(a, b, tol) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, str) or isinstance(b, str):
            return False
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        if tol is None:
            return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
        return abs(a - b) <= tol + 1e-12 * max(abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    return a == b


def _sort_key(row, float_cols):
    key = []
    for i, v in enumerate(row):
        if i in float_cols:
            continue
        key.append((v is None, str(type(v)), v if v is not None else 0))
    return tuple(key)


def compare_rows(got, want, what: str = "result") -> None:
    """Raise ``CheckFailed`` unless ``got`` and ``want`` hold the same
    rows (any order) under the float tolerance described above."""
    got = [tuple(_norm(v) for v in r) for r in got]
    want = [tuple(_norm(v) for v in r) for r in want]
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, expected {len(want)}")
    if not want:
        return
    ncols = len(want[0])
    if any(len(r) != ncols for r in got):
        raise CheckFailed(f"{what}: column count differs from {ncols}")
    float_cols = {
        i
        for i in range(ncols)
        if any(isinstance(r[i], float) for r in got + want)
    }
    tols = float_tolerances(got, want, ncols)

    def key(r):
        k = _sort_key(r, float_cols)
        floats = tuple(
            (r[i] is None, r[i] if isinstance(r[i], float) else 0.0)
            for i in sorted(float_cols)
        )
        return (k, floats)

    got.sort(key=key)
    want.sort(key=key)
    for g, w in zip(got, want):
        for i, (a, b) in enumerate(zip(g, w)):
            if not _close(a, b, tols[i]):
                raise CheckFailed(
                    f"{what}: column {i} differs: got {a!r}, expected {b!r} "
                    f"(row {g!r} vs {w!r})"
                )


def compare_maps(got: dict, want: dict, what: str, tol: float = 1e-9) -> None:
    """Key-by-key comparison of two {key: value-or-tuple} maps; numbers
    match within ``tol`` (relative and absolute), anything else exactly."""
    if got.keys() != want.keys():
        missing = sorted(set(want) - set(got), key=str)[:5]
        extra = sorted(set(got) - set(want), key=str)[:5]
        raise CheckFailed(f"{what}: keys differ; missing {missing}, extra {extra}")
    for k, w in want.items():
        g = got[k]
        ws = w if isinstance(w, tuple) else (w,)
        gs = g if isinstance(g, tuple) else (g,)
        for a, b in zip(gs, ws):
            if a is None or b is None:
                ok = a is b
            elif isinstance(a, str) or isinstance(b, str):
                ok = a == b
            else:
                ok = math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)
            if not ok:
                raise CheckFailed(f"{what}: {k!r} got {g!r}, expected {w!r}")
