"""Output checks: engine results against oracle rows.

Rows from Spark (``Row``) and DuckDB (tuples) are compared cell by
cell, in order; decimals count as floats, lists as tuples, and floats
match within a relative tolerance. ``canonical_rows`` puts a result
whose row order is not defined into a fixed column and row order first.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import sys
import threading
import traceback
from dataclasses import dataclass, field

REL_TOL = 1e-9


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _cells_equal(a, b) -> bool:
    a, b = _cell(a), _cell(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def diff_rows(got, want) -> str | None:
    """None when the row lists match, else the first difference."""
    got, want = [tuple(r) for r in got], [tuple(r) for r in want]
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if len(a) != len(b) or not all(_cells_equal(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a!r} != {b!r}"
    return None


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, f"{v:.6g}" if isinstance(v, float) else repr(v)) for v in row)


def canonical_rows(rows, columns: list[str]) -> list[tuple]:
    """The rows with their cells in column-name order, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=_sort_key)


def _rounded(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, tuple):
        return tuple(_rounded(x) for x in v)
    return v


def digest(rows: list[tuple]) -> str:
    """A hash of canonical rows; floats count to 9 significant digits."""
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(_rounded(row)).encode())
    return h.hexdigest()


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an exception or a
    wrong output. The first few failures are written to stderr."""

    attempted: int = 0
    failed: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, label: str, error: str | None) -> None:
        with self._lock:
            self.attempted += 1
            if error is None:
                return
            self.failed += 1
            if self.failed <= 5:
                print(f"perfbench: FAILED {label}: {error}", file=sys.stderr)

    def record_exception(self, label: str, exc: BaseException) -> None:
        detail = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        self.record(label, detail[:500])
