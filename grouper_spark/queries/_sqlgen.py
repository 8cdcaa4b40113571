"""Helpers for writing DuckDB oracle SQL that is bit-exact vs Spark.

Float SUM/AVG accumulate in engine-specific order, so raw double
aggregates don't hash-match across engines. Both sides therefore sum
integer fixed-point units (order-independent, exact) and divide once at
the end. ``grouper_spark.functions.text.money(x, k)`` is the Spark half,
``round(x * 10^k)`` as BIGINT at any power of ten; these helpers emit
the SQL half of that contract, ``CAST(ROUND(x * 10^k.0, 0) AS BIGINT)``.
The whole-unit sum ``functions.text.money_units(x, N)`` (the exact cent
sum, integer-divided once by N) is the Spark half of the oracles'
``CAST(SUM(CAST(ROUND(x * 100.0, 0) AS BIGINT)) // N AS BIGINT)``; the
daily series built on it live in ``queries._series``.
"""

from __future__ import annotations


def sql_money_sum(expr: str, alias: str, scale: int = 2) -> str:
    # The terminal CAST AS DOUBLE pins the declared output type: DuckDB
    # types SUM(BIGINT) as HUGEINT and a bare decimal literal as DECIMAL,
    # and HUGEINT/DECIMAL outputs reach the driver's pandas canonicalizer
    # as `object` columns that hash differently from Spark's float64
    # (the q08/q100 driver hash-fail class).
    s = 10**scale
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {s}.0, 0) AS BIGINT)) / {s}.0"
        f" AS DOUBLE) AS {alias}"
    )


def sql_money_avg(expr: str, alias: str, scale: int = 4) -> str:
    s = 10**scale
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {s}.0, 0) AS BIGINT)) / {s}.0"
        f" / COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def sql_money_cell(expr: str, alias: str, scale: int = 2) -> str:
    """Per-row fixed-point projection (no aggregation)."""
    s = 10**scale
    return (
        f"CAST(CAST(ROUND(({expr}) * {s}.0, 0) AS BIGINT) / {s}.0"
        f" AS DOUBLE) AS {alias}"
    )
