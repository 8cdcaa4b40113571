"""The daily orders series kernels: ``functions.text.money_units`` and
``queries._series`` (per-day fold, adaptive unit, trend fit), checked on
tiny hand-built frames, plus the guard that keeps them the only copies."""

from __future__ import annotations

import ast
import re
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

import grouper_spark
from grouper_spark.functions.text import money_units
from grouper_spark.queries._series import (
    adaptive_unit,
    daily_orders,
    trend_fit,
    unit_scaled,
)

_WHOLE_UNIT = re.compile(r"CAST\(SUM\(CAST\(ROUND\(.*\bdiv\b", re.S)
_ADAPTIVE = re.compile(r"div COUNT\(\*\)\)\s*div\s+(\d+|\{\})")
# The kernels themselves: (path under the package, function name).
_KERNELS = {
    ("functions/text.py", "money_units"),
    ("queries/_series.py", "adaptive_unit"),
}


def _sql_text(node):
    """The text of a string literal, an f-string (placeholders as ``{}``)
    or a ``+`` chain of them; None for anything else."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}" for v in node.values
        )
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        a, b = _sql_text(node.left), _sql_text(node.right)
        return None if a is None or b is None else a + b
    return None


def _inline_series_sql(root):
    """``F.expr``/``selectExpr`` strings under ``root`` that spell the
    whole-unit revenue sum or the adaptive unit outside their kernels."""
    sites = []
    for path in sorted(Path(root).rglob("*.py")):
        tree = ast.parse(path.read_text())
        where = path.relative_to(root).as_posix()
        for fn in list(ast.walk(tree)):
            if (where, getattr(fn, "name", None)) in _KERNELS:
                fn.body = []
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("expr", "selectExpr")
            ):
                continue
            for arg in node.args:
                text = _sql_text(arg)
                if text and (_WHOLE_UNIT.search(text) or _ADAPTIVE.search(text)):
                    sites.append(f"{path}:{node.lineno}")
    return sites


def test_no_inline_daily_series_sql():
    """The whole-unit revenue sum goes through ``money_units`` and the
    adaptive unit through ``_series.adaptive_unit``/``unit_scaled``,
    never a hand-written copy of their SQL (Spark-free: an AST scan)."""
    assert _inline_series_sql(Path(grouper_spark.__file__).parent) == []


def test_inline_series_scan_sees_every_spelling(tmp_path):
    (tmp_path / "m.py").write_text(
        'a = F.expr(\n    "CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))"\n'
        '    " div 100 AS BIGINT)"\n)\n'
        'b = df.selectExpr("GREATEST(1, (CAST(SUM(y) AS BIGINT) div COUNT(*)) div 30)")\n'
        'c = F.expr(f"CAST(SUM(CAST(ROUND({c} * 100.0, 0) AS BIGINT)) div {n} AS BIGINT)")\n'
        'd = F.expr("CAST(SUM(CAST(ROUND(x * 100.0, 0) AS BIGINT)) // 100 AS BIGINT)")\n'
        'e = query("q", oracle="CAST(SUM(CAST(ROUND(x * 100.0, 0) AS BIGINT)) div 100")\n'
        'f = F.expr(f"(CAST(SUM({y}) AS BIGINT) div COUNT(*)) div {k}")\n'
    )
    lines = sorted(int(s.rsplit(":", 1)[1]) for s in _inline_series_sql(tmp_path))
    assert lines == [1, 5, 6, 9]


def test_money_units_is_the_inline_sql(spark):
    inline = F.expr(
        "CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) div 100 AS BIGINT)"
    )
    assert str(money_units("o_totalprice", 100)) == str(inline)


def test_money_units_adds_exact_cents_before_dividing(spark):
    df = spark.createDataFrame([(0.60,), (0.45,)], "o_totalprice double")
    got = df.agg(
        money_units("o_totalprice", 100).alias("whole"),
        F.sum(F.floor("o_totalprice")).alias("per_row"),
    ).first()
    assert (got["whole"], got["per_row"]) == (1, 0)


def test_daily_orders_folds_each_day_once(spark):
    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10), 1.25),
            (1, datetime(2024, 1, 1, 14), 2.50),
            (2, datetime(2024, 1, 1, 12), 4.00),
            (1, datetime(2024, 1, 2, 12), 8.00),
        ],
        "g int, o_orderdate timestamp, o_totalprice double",
    )
    got = daily_orders(
        df,
        F.count("*").alias("v"),
        money_units("o_totalprice", 1).alias("c"),
        by=("g",),
    )
    assert got.columns == ["g", "d", "v", "c"]
    rows = sorted((r["g"], r["d"].isoformat(), r["v"], r["c"]) for r in got.collect())
    assert rows == [
        (1, "2024-01-01", 2, 375),
        (1, "2024-01-02", 1, 800),
        (2, "2024-01-01", 1, 400),
    ]


def test_unit_scaled_clamps_the_unit_at_one(spark):
    small = spark.createDataFrame([(1, 5), (2, 7)], "d int, y bigint")
    assert adaptive_unit(small, "y", 3000).first()["u"] == 1
    got = unit_scaled(small, "y", 3000).orderBy("d").collect()
    assert [tuple(r) for r in got] == [(1, 5), (2, 7)]

    big = spark.createDataFrame([(1, 6000, 9), (2, 9001, 8)], "d int, y bigint, v int")
    got = unit_scaled(big, "y", 3000, "yk")  # unit (15001 div 2) div 3000 = 2
    assert got.columns == ["d", "yk", "v"]
    assert [tuple(r) for r in got.orderBy("d").collect()] == [(1, 3000, 9), (2, 4500, 8)]


def test_trend_fit_recovers_an_integer_line(spark):
    ts = spark.createDataFrame(
        [(t, 7 + 3 * t) for t in range(1, 9)], "t bigint, y bigint"
    )
    got = trend_fit(ts).first()
    assert (got["n"], got["a"], got["b"]) == (8, 7.0, 3.0)


def test_grouped_trend_fit_matches_one_fit_per_group(spark):
    rows = [("p", t, y) for t, y in enumerate([3, 1, 4, 1, 5], 1)]
    rows += [("q", t, y) for t, y in enumerate([9, 2, 6, 5, 3, 5, 8], 1)]
    ts = spark.createDataFrame(rows, "grp string, t bigint, y bigint")
    grouped = {r["grp"]: tuple(r)[1:] for r in trend_fit(ts, "grp").collect()}
    for g in ("p", "q"):
        alone = trend_fit(ts.filter(F.col("grp") == g).drop("grp")).first()
        assert grouped[g] == tuple(alone)
    assert grouped["p"][0] == 5 and grouped["q"][0] == 7
