"""The user cohorts the ``events`` queries share.

Two cohorts, each with one Spark spelling:

* the signup→first-purchase survival subjects. ``signups`` folds each
  user to ``s_ts`` (first signup) and ``last_ts`` (last event), signed-up
  users only; ``first_purchase`` finds the first purchase at or after
  ``s_ts``; ``time_to_purchase`` gives each subject whole days since
  signup (``days_since_signup``) to that purchase (``ev = 1``) or, when
  censored, to ``last_ts`` (``ev = 0``). Over the per-day table,
  ``at_risk`` is the count still under observation and ``km_ln_micro``
  the micro-quantised Kaplan–Meier term ``ln(1 − d/n)``.
* the horizon churn panel. ``churn_panel`` gives each user active on or
  before ``CHURN_CUTOFF`` their recency at the cutoff and the label
  "no purchase in (CHURN_CUTOFF, CHURN_HORIZON]"; ``recency_score`` is
  the recency-decile score graded against it.

None of them checkpoints: a caller that reads a frame more than once
checkpoints it itself. The oracles spell the same cohorts in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import money

CHURN_CUTOFF = "2024-01-20"
CHURN_HORIZON = "2024-01-30"
# ln(0) in micro-units, where every subject left at risk has the event
# (d == n): the survival curve hits exactly zero, and exp(-99) rounds to
# 0 at any precision in both engines.
KM_LN_ZERO = -99000000
_DAY_US = 86400000000


def signups(events: DataFrame, *aggs: Column) -> DataFrame:
    """(user_id, s_ts, last_ts, *aggs) per user with a signup event."""
    return (
        events.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
                "s_ts"
            ),
            F.max("ts").alias("last_ts"),
            *aggs,
        )
        .filter(F.col("s_ts").isNotNull())
    )


def first_purchase(signed: DataFrame, events: DataFrame) -> DataFrame:
    """(user_id, p_ts): each signed-up user's first purchase at or after
    ``s_ts``; users who never buy after signing up have no row."""
    return (
        signed.join(
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_raw")
            ),
            "user_id",
        )
        .filter(F.col("p_raw") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("p_raw").alias("p_ts"))
    )


def days_since_signup(col: str) -> Column:
    """Whole days from ``s_ts`` to the timestamp column ``col``."""
    return F.expr(f"(unix_micros({col}) - unix_micros(s_ts)) div {_DAY_US}")


def time_to_purchase(signed: DataFrame, events: DataFrame, *keep: str) -> DataFrame:
    """(*keep, t_days, ev) per signed-up user: days to the first
    purchase with ``ev = 1``, else days to ``last_ts`` with ``ev = 0``."""
    bought = F.col("p_ts").isNotNull()
    return signed.join(first_purchase(signed, events), "user_id", "left").select(
        *keep,
        F.when(bought, days_since_signup("p_ts"))
        .otherwise(days_since_signup("last_ts"))
        .cast("bigint")
        .alias("t_days"),
        F.when(bought, 1).otherwise(0).alias("ev"),
    )


def at_risk(col) -> Column:
    """Over a table with one row per ``t_days``: the sum of ``col`` over
    this day and every later one (all rows minus the earlier ones)."""
    prior = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    return (
        F.sum(col).over(Window.partitionBy())
        - F.coalesce(F.sum(col).over(prior), F.lit(0))
    ).cast("bigint")


def risk_table(subj: DataFrame) -> DataFrame:
    """(t_days, d, n) from ``time_to_purchase`` subjects: the events on
    each day and the subjects at risk at its start."""
    tt = subj.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("m"),
    )
    return tt.select("t_days", "d", at_risk("m").alias("n"))


def km_ln_micro(d: Column, n: Column) -> Column:
    """``ln(1 − d/n)`` in micro-units: 0 with no event, ``KM_LN_ZERO`` when
    the events take every subject at risk."""
    return (
        F.when((d > 0) & (d < n), money(F.log(1.0 - d.cast("double") / n), 6))
        .when(d > 0, F.lit(KM_LN_ZERO).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
    )


def churn_panel(events: DataFrame, *aggs: Column) -> DataFrame:
    """(user_id, recency, *aggs, churned) per user with an event on or
    before ``CHURN_CUTOFF``: ``recency`` is days from the last such event
    to the cutoff, ``aggs`` fold those events, and ``churned`` is 1 when
    the user makes no purchase in (cutoff, ``CHURN_HORIZON``]."""
    day = F.col("ts").cast("date")
    cutoff = F.lit(CHURN_CUTOFF).cast("date")
    horizon = F.lit(CHURN_HORIZON).cast("date")
    feat = (
        events.filter(day <= cutoff)
        .groupBy("user_id")
        .agg(F.datediff(cutoff, F.max(day)).cast("bigint").alias("recency"), *aggs)
    )
    active = (
        events.filter(
            (day > cutoff) & (day <= horizon) & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("active", F.lit(1))
    )
    return feat.join(active, "user_id", "left").select(
        *feat.columns, F.col("active").isNull().cast("int").alias("churned")
    )


def recency_score() -> Column:
    """The recency-decile churn score: ``recency`` days capped at 10."""
    return F.least(F.lit(10).cast("bigint"), F.col("recency"))
