"""The events cohort kernels of ``queries._cohorts`` (survival subjects,
at-risk count, Kaplan–Meier term, horizon churn panel), checked on tiny
hand-built ``events`` frames, plus the guard that keeps them the only
copies."""

from __future__ import annotations

import ast
import re
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

import grouper_spark
from grouper_spark.queries._cohorts import (
    KM_LN_ZERO,
    at_risk,
    churn_panel,
    km_ln_micro,
    signups,
    time_to_purchase,
)
from test_series import _sql_text

_DAY_SQL = re.compile(r"unix_micros\(s_ts\)\)\s*div\s+(86400000000|\{\})")
_SENTINEL = 99000000
_HORIZON = "2024-01-30"
_EVENTS = "user_id bigint, event_type string, ts timestamp"


def _inline_cohort_code(root):
    """Sites under ``root``, outside ``queries/_cohorts.py``, that spell a
    cohort decision by hand: the days-since-signup ``F.expr``, the KM
    ln(0) sentinel as a Python int, or the churn horizon date."""
    sites = []
    for path in sorted(Path(root).rglob("*.py")):
        if path.relative_to(root).as_posix() == "queries/_cohorts.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            hit = False
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("expr", "selectExpr")
            ):
                texts = [_sql_text(arg) for arg in node.args]
                hit = any(t and _DAY_SQL.search(t) for t in texts)
            elif isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
                hit = (
                    isinstance(node.operand, ast.Constant)
                    and node.operand.value == _SENTINEL
                )
            elif isinstance(node, ast.Constant):
                hit = node.value == _HORIZON or node.value == -_SENTINEL
            if hit:
                sites.append(f"{path}:{node.lineno}")
    return sites


def test_no_inline_cohort_code():
    """Days since signup, the KM sentinel and the churn horizon live only
    in ``queries/_cohorts.py`` (Spark-free: an AST scan)."""
    assert _inline_cohort_code(Path(grouper_spark.__file__).parent) == []


def test_inline_cohort_scan_sees_every_spelling(tmp_path):
    (tmp_path / "m.py").write_text(
        'a = F.expr(\n    "(unix_micros(p_ts) - unix_micros(s_ts))"\n'
        '    " div 86400000000"\n)\n'
        'b = F.expr(f"(unix_micros(last_ts) - unix_micros(s_ts)) div {day}")\n'
        "c = F.lit(-99000000).cast('bigint')\n"
        'd = F.lit("2024-01-30").cast("date")\n'
        'e = query("q", oracle="(epoch_us(c.p_ts) - epoch_us(s.s_ts))'
        " // 86400000000, CAST(-99000000 AS BIGINT), DATE '2024-01-30'\")\n"
    )
    lines = sorted(int(s.rsplit(":", 1)[1]) for s in _inline_cohort_code(tmp_path))
    assert lines == [1, 5, 6, 7]


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, t, datetime.fromisoformat(ts)) for u, t, ts in rows], _EVENTS
    )


def test_survival_subjects_from_hand_built_events(spark):
    ev = _events(
        spark,
        [
            # 1 signs up, buys 2 days later, last seen later still
            (1, "signup", "2024-01-01 10:00"),
            (1, "purchase", "2024-01-03 11:00"),
            (1, "click", "2024-01-09 00:00"),
            # 2 bought before signing up and never after: censored
            (2, "purchase", "2024-01-01 00:00"),
            (2, "signup", "2024-01-02 00:00"),
            (2, "click", "2024-01-06 23:59"),
            # 3 never signs up: not a subject
            (3, "purchase", "2024-01-04 00:00"),
        ],
    )
    signed = signups(ev, F.count("*").alias("n"))
    assert signed.columns == ["user_id", "s_ts", "last_ts", "n"]
    assert sorted((r["user_id"], r["n"]) for r in signed.collect()) == [(1, 3), (2, 3)]
    subj = time_to_purchase(signed, ev, "user_id")
    assert subj.columns == ["user_id", "t_days", "ev"]
    assert sorted(tuple(r) for r in subj.collect()) == [(1, 2, 1), (2, 4, 0)]


def test_at_risk_counts_the_subjects_still_observed(spark):
    days = spark.createDataFrame([(0, 3), (2, 1), (5, 4), (9, 2)], "t_days bigint, m bigint")
    got = days.select("t_days", at_risk("m").alias("n")).orderBy("t_days")
    assert [tuple(r) for r in got.collect()] == [(0, 10), (2, 7), (5, 6), (9, 2)]


def test_km_ln_micro_ends_at_the_sentinel(spark):
    dn = spark.createDataFrame([(0, 5), (1, 2), (3, 3)], "d bigint, n bigint")
    got = dn.select(km_ln_micro(F.col("d"), F.col("n")).alias("ln")).collect()
    assert [r["ln"] for r in got] == [0, -693147, KM_LN_ZERO]
    assert KM_LN_ZERO == -99000000


def test_churn_panel_label_ends_at_the_horizon(spark):
    ev = _events(
        spark,
        [
            (1, "click", "2024-01-18 12:00"),
            (1, "purchase", "2024-01-30 23:59"),
            (2, "click", "2024-01-20 08:00"),
            (2, "purchase", "2024-01-31 00:00"),
            (3, "purchase", "2024-01-21 00:00"),
        ],
    )
    panel = churn_panel(ev, F.count("*").alias("n_pre"))
    assert panel.columns == ["user_id", "recency", "n_pre", "churned"]
    got = sorted(tuple(r) for r in panel.collect())
    assert got == [(1, 2, 1, 0), (2, 0, 1, 1)]
