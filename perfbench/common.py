"""Shared result record and the value comparison used by every check."""

from __future__ import annotations

import datetime
import decimal
import math
import statistics
from dataclasses import dataclass, field


@dataclass
class Result:
    attempted: int
    failed: int
    # name -> (value, unit); end-to-end metrics and per-layer metrics.
    metrics: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    # Host and run context printed beside the result, never gated.
    context: dict = field(default_factory=dict)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sequence."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return s[k]


# The two helpers below are the comparison of tools/check_parity.py:
# values are normalised, rows sorted, columns compared by name.
def normalize(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)
