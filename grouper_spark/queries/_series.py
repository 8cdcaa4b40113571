"""The daily orders series the time-series queries share.

Three kernels, each the one Spark spelling of its idea: the per-day fold
of ``orders`` (``d = to_date(o_orderdate)``), the adaptive unit that
keeps squared BIGINT moments inside int64 at every corpus scale, and
the closed-form OLS trend fit over exact (t, y) moments. The revenue
aggregate they usually carry is ``functions.text.money_units``. None of
them checkpoints: a caller that references the result more than once
checkpoints it itself. The oracles spell the same series in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def daily_orders(orders: DataFrame, *aggs: Column, by=()) -> DataFrame:
    """One row per order day ``d`` (within each ``by`` group, whose
    columns come first) with the caller's aggregates."""
    return orders.groupBy(*by, F.to_date("o_orderdate").alias("d")).agg(*aggs)


def adaptive_unit(df: DataFrame, col: str, per: int) -> DataFrame:
    """1-row frame ``u = max(1, mean(col) div per)``, mean by integer
    division. Dividing by it pins mean(col) near ``per`` at every scale,
    so squared and cross moment sums keep the same overflow budget (the
    10x sweep caught fixed units overflowing). Consumers are
    scale-invariant statistics, so the unit cancels; both engines
    truncate the non-negative divisions identically."""
    return df.agg(
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            f" (CAST(SUM({col}) AS BIGINT) div COUNT(*)) div {per})"
        ).alias("u")
    )


def unit_scaled(
    df: DataFrame, col: str, per: int, alias: str | None = None
) -> DataFrame:
    """``df`` with ``col`` replaced in place by ``col div u`` (named
    ``alias`` if given), ``u`` its ``adaptive_unit``."""
    unit = F.broadcast(adaptive_unit(df, col, per))
    scaled = F.expr(f"CAST({col} div u AS BIGINT)").alias(alias or col)
    return df.crossJoin(unit).select(
        *[scaled if c == col else c for c in df.columns]
    )


def trend_fit(ts: DataFrame, *keys: str) -> DataFrame:
    """OLS line ``y = a + b·t`` per ``keys`` group (one row with no
    keys): exact BIGINT moments n, st, st2, sy, sty, then one double
    expression each for b and a. Returns (*keys, n, a, b)."""
    t, y = F.col("t"), F.col("y")
    m = ts.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(t).cast("bigint").alias("st"),
        F.sum(t * t).cast("bigint").alias("st2"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(t * y).cast("bigint").alias("sty"),
    )
    n, st = F.col("n").cast("double"), F.col("st").cast("double")
    b = (n * F.col("sty") - st * F.col("sy")) / (n * F.col("st2") - st * F.col("st"))
    a = (F.col("sy").cast("double") - b * F.col("st")) / F.col("n")
    return m.select(*keys, "n", a.alias("a"), b.alias("b"))
