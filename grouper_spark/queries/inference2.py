"""Round-7 battery II (a059+): homogeneity/changepoint tests,
randomness, time-series model fits, and intermittent-demand
forecasting the earlier batteries did not cover — Pettitt, Buishand
range + SNHT, Bartels rank von Neumann, Yule–Walker AR(2), Croston.

Same design discipline as inference.py: the corpus folds ONCE to a
calendar-bounded daily summary (~2.4k rows at every sf — the date
range is fixed, so the post-fold windows are O(days), not O(rows),
and hold at 100 TB); all cross-row sums are exact BIGINTs (doubled
midranks for tie-exact rank statistics, fixed-point weight tables
generated in Python and embedded as literals in BOTH plans);
transcendentals run once on identical exact inputs into a terminal
``round(x, 6)``. Reference parity target: junegunn/grouper exposes no
statistics surface (src/grouper/core.clj is a micro-batching
utility); these extend pipeline-monitoring analytics.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import money, money_units
from ..sources import table
from ._cohorts import (
    KM_LN_ZERO,
    at_risk,
    days_since_signup,
    first_purchase,
    km_ln_micro,
    risk_table,
    signups,
    time_to_purchase,
)
from ._series import daily_orders
from . import query
from ..operators.core import literal_frame

# Shared base series: daily order revenue in whole dollars — exact
# integer fold (cents round, then integer div), one shuffle on the
# date key, bounded by the calendar (~2.4k rows at any sf).
_DAILY_SQL = """
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY 1
"""


@query(
    "a527_pettitt_changepoint",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
hist AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS g FROM daily GROUP BY x
), ranked AS (
  SELECT x,
         CAST(2 * COALESCE(SUM(g) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + g + 1 AS BIGINT) AS dr
  FROM hist
), ut AS (
  SELECT d.d,
         CAST(SUM(r.dr - (n.n + 1)) OVER (ORDER BY d.d)
              AS BIGINT) AS u_t
  FROM daily d JOIN ranked r ON d.x = r.x CROSS JOIN n
), best AS (
  SELECT u_t AS u_star, d AS change_date
  FROM ut ORDER BY ABS(u_t) DESC, d ASC LIMIT 1
)
SELECT n.n AS n_days,
       CAST(ABS(b.u_star) AS BIGINT) AS k_stat,
       b.change_date,
       round(2.0 * EXP(-6.0 * CAST(ABS(b.u_star) AS DOUBLE)
                            * CAST(ABS(b.u_star) AS DOUBLE)
                     / (CAST(n.n AS DOUBLE) * n.n * n.n
                        + CAST(n.n AS DOUBLE) * n.n)), 6) AS p_approx_r
FROM best b CROSS JOIN n
""",
)
def a527_pettitt_changepoint(spark, sf_dir):
    """Pettitt rank-based changepoint test on the daily order-revenue
    series. The Mann–Whitney-style statistic U_t = Σ_{i≤t}Σ_{j>t}
    sgn(x_i−x_j) collapses — because the i,j≤t block is antisymmetric
    — to the cumulative sum of per-day sign-sums, and each sign-sum
    equals (2·midrank − n − 1) EXACTLY under ties, so the whole test
    is a value histogram + two windows with zero pairwise joins.
    The per-day sign-sum (2c_less + g − n) is ALREADY exact — not
    doubled (the tie mass splits symmetrically); K = max|U_t| is an
    exact BIGINT, and the single
    exp() runs once on the final K. At 100 TB: one orders shuffle on
    the date key, then O(days) work; the ORDER BY-ABS argmax touches
    ~2.4k rows."""
    # multiply-referenced by the totals, histogram and window branches:
    # checkpoint so the orders fold plans once
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 100).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    n = daily.agg(F.count("*").cast("bigint").alias("n"))
    hist = daily.groupBy("x").agg(F.count("*").cast("bigint").alias("g"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "x",
        (
            2 * F.coalesce(F.sum("g").over(wv), F.lit(0)) + F.col("g") + 1
        ).cast("bigint").alias("dr"),
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ut = (
        daily.join(ranked, "x")
        .crossJoin(F.broadcast(n))
        .select(
            "d",
            F.sum(F.col("dr") - (F.col("n") + 1)).over(wd)
            .cast("bigint").alias("u_t"),
        )
    )
    best = ut.orderBy(F.abs("u_t").desc(), F.col("d").asc()).limit(1)
    ad = F.abs(F.col("u_t")).cast("double")
    nn = F.col("n").cast("double")
    return best.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_days"),
        F.abs(F.col("u_t")).cast("bigint").alias("k_stat"),
        F.col("d").alias("change_date"),
        F.round(
            2.0 * F.exp(-6.0 * ad * ad / (nn * nn * nn + nn * nn)), 6
        ).alias("p_approx_r"),
    )


@query(
    "a528_buishand_snht",
    oracle=f"""
WITH daily AS (
  SELECT d, CAST(x // 100 AS BIGINT) AS x FROM ({_DAILY_SQL})
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily
), pre AS (
  SELECT d.d,
         CAST(ROW_NUMBER() OVER (ORDER BY d.d) AS BIGINT) AS k,
         CAST(t.n * SUM(d.x) OVER (ORDER BY d.d)
              - ROW_NUMBER() OVER (ORDER BY d.d) * t.t
              AS BIGINT) AS dk
  FROM daily d CROSS JOIN tot t
), s AS (
  SELECT SQRT((CAST(t.n AS DOUBLE) * t.sxx - CAST(t.t AS DOUBLE) * t.t)
              / (CAST(t.n AS DOUBLE) * (t.n - 1))) AS sd, t.n, t.t
  FROM tot t
), snht AS (
  SELECT p.d,
         (CAST(p.dk AS DOUBLE) * p.dk)
           / (CAST(s.n AS DOUBLE) * s.n * s.sd * s.sd)
           * (1.0 / p.k + 1.0 / (s.n - p.k)) AS t_k
  FROM pre p CROSS JOIN s WHERE p.k < (SELECT n FROM tot)
), tmax AS (
  SELECT t_k AS t_star, d AS snht_date FROM snht
  ORDER BY t_k DESC, d ASC LIMIT 1
)
SELECT s.n AS n_days,
       round((CAST(MAX(p.dk) AS DOUBLE) - MIN(p.dk))
             / (CAST(s.n AS DOUBLE) * s.sd) / SQRT(CAST(s.n AS DOUBLE)),
             6) AS buishand_rsqn_r,
       round(MAX(tm.t_star), 6) AS snht_t_r,
       MAX(tm.snht_date) AS snht_date
FROM pre p CROSS JOIN s CROSS JOIN tmax tm
GROUP BY s.n, s.sd
""",
)
def a528_buishand_snht(spark, sf_dir):
    """Buishand range test + standard normal homogeneity test (SNHT)
    on the daily revenue series, quantized to whole hundreds of
    dollars so every cumulative deviation stays exact: n·S_k = n·P_k
    − k·T is an exact BIGINT (≤ ~5e12 at sf0.1, ~5e14 at the 10×
    audit point — headroom to sf100). Buishand R/√n = (max−min of
    nS_k)/(n·s·√n); SNHT T_k = D_k²/(n²s²)·(1/k + 1/(n−k)) maximized
    over k with its argmax date. One orders fold, O(days) windows; sd
    and the divisions are terminal doubles off exact integers."""
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 10000).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    wd = Window.orderBy("d")
    pre = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            "t",
            "sxx",
            F.row_number().over(wd).cast("bigint").alias("k"),
            F.sum("x").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("bigint").alias("pk"),
        )
        .withColumn(
            "dk", (F.col("n") * F.col("pk") - F.col("k") * F.col("t"))
            .cast("bigint")
        )
    )
    nd = F.col("n").cast("double")
    sd = F.sqrt(
        (nd * F.col("sxx") - F.col("t").cast("double") * F.col("t"))
        / (nd * (nd - 1.0))
    )
    snht = pre.filter(F.col("k") < F.col("n")).select(
        "d",
        (
            F.col("dk").cast("double") * F.col("dk") / (nd * nd * sd * sd)
            * (1.0 / F.col("k").cast("double")
               + 1.0 / (nd - F.col("k").cast("double")))
        ).alias("t_k"),
    )
    tmax = snht.orderBy(F.col("t_k").desc(), F.col("d").asc()).limit(1)
    agg = pre.groupBy("n", "t", "sxx").agg(
        F.max("dk").cast("bigint").alias("dmax"),
        F.min("dk").cast("bigint").alias("dmin"),
    )
    return agg.crossJoin(F.broadcast(tmax)).select(
        F.col("n").alias("n_days"),
        F.round(
            (F.col("dmax").cast("double") - F.col("dmin"))
            / (nd * sd) / F.sqrt(nd),
            6,
        ).alias("buishand_rsqn_r"),
        F.round("t_k", 6).alias("snht_t_r"),
        F.col("d").alias("snht_date"),
    )


@query(
    "a529_bartels_rank_vn",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
hist AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS g FROM daily GROUP BY x
), ranked AS (
  SELECT x,
         CAST(2 * COALESCE(SUM(g) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + g + 1 AS BIGINT) AS dr
  FROM hist
), seq AS (
  SELECT r.dr,
         LEAD(r.dr) OVER (ORDER BY d.d) AS dr_next,
         n.n
  FROM daily d JOIN ranked r ON d.x = r.x CROSS JOIN n
), parts AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CASE WHEN dr_next IS NOT NULL
                       THEN (dr - dr_next) * (dr - dr_next) END)
              AS BIGINT) AS num,
         CAST(SUM((dr - (n + 1)) * (dr - (n + 1))) AS BIGINT) AS den
  FROM seq
)
SELECT n AS n_days,
       round(CAST(num AS DOUBLE) / den, 6) AS rvn_r,
       round((CAST(num AS DOUBLE) / den - 2.0)
             / SQRT(4.0 * (n - 2) * (5.0 * n * n - 2.0 * n - 9.0)
                    / (5.0 * CAST(n AS DOUBLE) * (n + 1)
                       * (CAST(n AS DOUBLE) - 1) * (n - 1))),
             6) AS z_r
FROM parts
""",
)
def a529_bartels_rank_vn(spark, sf_dir):
    """Bartels rank von Neumann ratio test for randomness of the
    daily revenue sequence: RVN = Σ(r_i − r_{i+1})² / Σ(r_i − r̄)²
    over tie-exact midranks. Doubled midranks make BOTH sums exact
    BIGINTs (the ×4 scaling cancels in the ratio), and r̄ = (n+1)/2
    doubles to exactly n+1 — no fractional mean anywhere. The normal
    approximation z uses the exact-rational variance 4(n−2)(5n²−2n−9)
    / (5n(n+1)(n−1)²). Histogram + two O(days) windows; no pairwise
    joins. At 100 TB the only corpus-sized stage is the date fold."""
    # multiply-referenced by the totals, histogram and window branches:
    # checkpoint so the orders fold plans once
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 100).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    n = daily.agg(F.count("*").cast("bigint").alias("n"))
    hist = daily.groupBy("x").agg(F.count("*").cast("bigint").alias("g"))
    wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "x",
        (
            2 * F.coalesce(F.sum("g").over(wv), F.lit(0)) + F.col("g") + 1
        ).cast("bigint").alias("dr"),
    )
    wd = Window.orderBy("d")
    seq = (
        daily.join(ranked, "x")
        .crossJoin(F.broadcast(n))
        .select("dr", F.lead("dr").over(wd).alias("dr_next"), "n")
    )
    diff = F.col("dr") - F.col("dr_next")
    dev = F.col("dr") - (F.col("n") + 1)
    parts = seq.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(F.col("dr_next").isNotNull(), diff * diff)
        ).cast("bigint").alias("num"),
        F.sum(dev * dev).cast("bigint").alias("den"),
    )
    nd = F.col("n").cast("double")
    rvn = F.col("num").cast("double") / F.col("den")
    sigma = F.sqrt(
        4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
        / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))
    )
    return parts.select(
        F.col("n").alias("n_days"),
        F.round(rvn, 6).alias("rvn_r"),
        F.round((rvn - 2.0) / sigma, 6).alias("z_r"),
    )


@query(
    "a530_yule_walker_ar2",
    oracle=f"""
WITH daily AS (
  SELECT d, CAST(x // 100 AS BIGINT) AS x FROM ({_DAILY_SQL})
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS t
  FROM daily
), lagged AS (
  SELECT x,
         LAG(x, 1) OVER (ORDER BY d) AS x1,
         LAG(x, 2) OVER (ORDER BY d) AS x2
  FROM daily
), moments AS (
  SELECT CAST(SUM(x * x) AS BIGINT) AS sxx0,
         CAST(SUM(x * x1) AS BIGINT) AS sxx1,
         CAST(SUM(x * x2) AS BIGINT) AS sxx2,
         CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x + x1 END)
              AS BIGINT) AS sab1,
         CAST(SUM(CASE WHEN x2 IS NOT NULL THEN x + x2 END)
              AS BIGINT) AS sab2
  FROM lagged
), g AS (
  SELECT t.n,
         CAST(m.sxx0 AS DOUBLE)
           - (CAST(t.t AS DOUBLE) / t.n) * t.t AS g0,
         CAST(m.sxx1 AS DOUBLE)
           - (CAST(t.t AS DOUBLE) / t.n) * m.sab1
           + (t.n - 1) * (CAST(t.t AS DOUBLE) / t.n)
             * (CAST(t.t AS DOUBLE) / t.n) AS g1,
         CAST(m.sxx2 AS DOUBLE)
           - (CAST(t.t AS DOUBLE) / t.n) * m.sab2
           + (t.n - 2) * (CAST(t.t AS DOUBLE) / t.n)
             * (CAST(t.t AS DOUBLE) / t.n) AS g2
  FROM tot t CROSS JOIN moments m
)
SELECT n AS n_days,
       round(g1 / g0, 6) AS r1_r,
       round(g2 / g0, 6) AS r2_r,
       round((g1 / g0)
             * (1.0 - g2 / g0)
             / (1.0 - (g1 / g0)
                      * (g1 / g0)), 6) AS phi1_r,
       round((g2 / g0 - (g1 / g0)
                                        * (g1 / g0))
             / (1.0 - (g1 / g0)
                      * (g1 / g0)), 6) AS phi2_r,
       round(1.0
             - ((g1 / g0) * (1.0 - g2 / g0)
                / (1.0 - (g1 / g0)
                         * (g1 / g0)))
               * (g1 / g0)
             - ((g2 / g0
                 - (g1 / g0) * (g1 / g0))
                / (1.0 - (g1 / g0)
                         * (g1 / g0)))
               * (g2 / g0), 6) AS noise_ratio_r
FROM g
""",
)
def a530_yule_walker_ar2(spark, sf_dir):
    """Yule–Walker AR(2) fit to the daily revenue series (hundred-
    dollar units). Autocovariance numerators
    Σx_ix_{i+k} − x̄·Σ(x_i+x_{i+k}) + (n−k)x̄² are DOUBLES built from
    single exact BIGINT moments with identical expression text in
    both engines — each term is one product of exact inputs, never an
    unordered float sum, so the result is bit-deterministic while the
    moments themselves (the only corpus-sized sums) stay exact
    integers with 100× headroom (an earlier n²-scaled integer form
    overflowed at the 10× audit point).
    r1, r2 and the closed-form φ1 = r1(1−r2)/(1−r1²), φ2 =
    (r2−r1²)/(1−r1²), innovation ratio 1 − φ1r1 − φ2r2 are terminal
    doubles. One date-keyed fold, two LAG windows over ~2.4k rows."""
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 10000).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
    )
    wd = Window.orderBy("d")
    lagged = daily.select(
        "x",
        F.lag("x", 1).over(wd).alias("x1"),
        F.lag("x", 2).over(wd).alias("x2"),
    )
    moments = lagged.agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx0"),
        F.sum(F.col("x") * F.col("x1")).cast("bigint").alias("sxx1"),
        F.sum(F.col("x") * F.col("x2")).cast("bigint").alias("sxx2"),
        F.sum(
            F.when(F.col("x1").isNotNull(), F.col("x") + F.col("x1"))
        ).cast("bigint").alias("sab1"),
        F.sum(
            F.when(F.col("x2").isNotNull(), F.col("x") + F.col("x2"))
        ).cast("bigint").alias("sab2"),
    )
    tm = F.col("t").cast("double") / F.col("n")
    g = moments.crossJoin(F.broadcast(tot)).select(
        "n",
        (F.col("sxx0").cast("double") - tm * F.col("t")).alias("g0"),
        (
            F.col("sxx1").cast("double")
            - tm * F.col("sab1")
            + (F.col("n") - 1) * tm * tm
        ).alias("g1"),
        (
            F.col("sxx2").cast("double")
            - tm * F.col("sab2")
            + (F.col("n") - 2) * tm * tm
        ).alias("g2"),
    )
    r1 = F.col("g1") / F.col("g0")
    r2 = F.col("g2") / F.col("g0")
    phi1 = r1 * (1.0 - r2) / (1.0 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    return g.select(
        F.col("n").alias("n_days"),
        F.round(r1, 6).alias("r1_r"),
        F.round(r2, 6).alias("r2_r"),
        F.round(phi1, 6).alias("phi1_r"),
        F.round(phi2, 6).alias("phi2_r"),
        F.round(1.0 - phi1 * r1 - phi2 * r2, 6).alias("noise_ratio_r"),
    )


# Croston SES weights α(1−α)^k at α=0.2, k = 0..127 (ages beyond 128
# carry < 4e-13 of the weight), at 1e12 fixed point — Python-generated
# literals embedded in BOTH plans (the a032/a016 constant-table
# recipe) so the weighted sums are exact BIGINTs in both engines.
_CROSTON_ALPHA = 0.2
_CROSTON_K = 128
_CROSTON_ROWS = [
    (k, int(round(_CROSTON_ALPHA * (1.0 - _CROSTON_ALPHA) ** k * 1e12)))
    for k in range(_CROSTON_K)
]
_CROSTON_VALUES = ", ".join(f"({k}, {w})" for k, w in _CROSTON_ROWS)


@query(
    "a531_croston_intermittent",
    oracle=f"""
WITH w(age, wfp) AS (VALUES {_CROSTON_VALUES}),
demand AS (
  SELECT CAST(l_partkey % 97 AS BIGINT) AS bkt,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS z
  FROM lineitem GROUP BY 1, 2
), seq AS (
  SELECT bkt, z,
         CAST(DATEDIFF('day',
              LAG(d) OVER (PARTITION BY bkt ORDER BY d), d)
              AS BIGINT) AS gap,
         CAST(ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY d DESC)
              AS BIGINT) - 1 AS age
  FROM demand
), recent AS (
  SELECT s.bkt, s.z, s.gap, w.wfp
  FROM seq s JOIN w ON s.age = w.age
), fit AS (
  SELECT bkt,
         CAST(COUNT(*) AS BIGINT) AS m_obs,
         CAST(SUM(z * wfp) AS BIGINT) AS zw,
         CAST(SUM(wfp) AS BIGINT) AS wsum,
         CAST(SUM(CASE WHEN gap IS NOT NULL THEN gap * wfp END)
              AS BIGINT) AS pw,
         CAST(SUM(CASE WHEN gap IS NOT NULL THEN wfp END)
              AS BIGINT) AS pwsum
  FROM recent GROUP BY bkt
)
SELECT bkt, m_obs,
       round(CAST(zw AS DOUBLE) / wsum, 6) AS z_hat_r,
       round(CAST(pw AS DOUBLE) / pwsum, 6) AS p_hat_r,
       round((CAST(zw AS DOUBLE) / wsum)
             / (CAST(pw AS DOUBLE) / pwsum), 6) AS croston_r,
       round((1.0 - {_CROSTON_ALPHA} / 2.0)
             * (CAST(zw AS DOUBLE) / wsum)
             / (CAST(pw AS DOUBLE) / pwsum), 6) AS sba_r
FROM fit
ORDER BY bkt
""",
)
def a531_croston_intermittent(spark, sf_dir):
    """Croston intermittent-demand forecast per part bucket (97
    series, ~23% of (bucket, day) slots carry demand in this
    fixture). Demand sizes and inter-arrival gaps are smoothed with
    truncated-renormalized SES(α=0.2) over the most recent 128
    nonzero observations — the truncation carries < 4e-13 of the
    weight mass, and the weight table is Python-generated 1e12
    fixed-point literals embedded in both plans, so Σz·w and Σgap·w
    are exact BIGINTs. Forecast = ẑ/p̂, plus the Syntetos–Boylan
    (1−α/2) bias-corrected variant. One lineitem fold keyed
    (bucket, day), then bucket-partitioned windows over ≤ days rows
    per bucket; at 100 TB the fold is the only corpus-sized stage and
    the per-bucket state is capped at 128 rows by construction."""
    li = table(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        (F.col("l_partkey") % 97).cast("bigint").alias("bkt"),
        F.to_date("l_shipdate").alias("d"),
    ).agg(
        F.sum(F.round("l_quantity", 0).cast("bigint"))
        .cast("bigint").alias("z")
    )
    wb = Window.partitionBy("bkt").orderBy("d")
    wr = Window.partitionBy("bkt").orderBy(F.col("d").desc())
    seq = demand.select(
        "bkt",
        "z",
        F.datediff(F.col("d"), F.lag("d").over(wb))
        .cast("bigint").alias("gap"),
        (F.row_number().over(wr).cast("bigint") - 1).alias("age"),
    )
    wtab = literal_frame(spark, _CROSTON_ROWS, "age bigint, wfp bigint")
    recent = seq.join(F.broadcast(wtab), "age")
    fit = recent.groupBy("bkt").agg(
        F.count("*").cast("bigint").alias("m_obs"),
        F.sum(F.col("z") * F.col("wfp")).cast("bigint").alias("zw"),
        F.sum("wfp").cast("bigint").alias("wsum"),
        F.sum(
            F.when(F.col("gap").isNotNull(), F.col("gap") * F.col("wfp"))
        ).cast("bigint").alias("pw"),
        F.sum(
            F.when(F.col("gap").isNotNull(), F.col("wfp"))
        ).cast("bigint").alias("pwsum"),
    )
    z_hat = F.col("zw").cast("double") / F.col("wsum")
    p_hat = F.col("pw").cast("double") / F.col("pwsum")
    return fit.select(
        "bkt",
        "m_obs",
        F.round(z_hat, 6).alias("z_hat_r"),
        F.round(p_hat, 6).alias("p_hat_r"),
        F.round(z_hat / p_hat, 6).alias("croston_r"),
        F.round(
            (1.0 - _CROSTON_ALPHA / 2.0) * z_hat / p_hat, 6
        ).alias("sba_r"),
    ).orderBy("bkt")


@query(
    "a532_aalen_johansen",
    oracle="""
WITH base AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
         MAX(ts) AS last_ts
  FROM events GROUP BY user_id
), signed AS (
  SELECT user_id, s_ts, last_ts FROM base WHERE s_ts IS NOT NULL
), firsts AS (
  SELECT s.user_id,
         MIN(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS p_ts,
         MIN(CASE WHEN e.event_type = 'error' THEN e.ts END) AS e_ts
  FROM signed s JOIN events e
    ON e.user_id = s.user_id AND e.ts >= s.s_ts
       AND e.event_type IN ('purchase', 'error')
  GROUP BY s.user_id
), subj AS (
  SELECT s.user_id,
         CAST(CASE
           WHEN f.p_ts IS NOT NULL AND (f.e_ts IS NULL OR f.p_ts <= f.e_ts)
             THEN (epoch_us(f.p_ts) - epoch_us(s.s_ts)) // 86400000000
           WHEN f.e_ts IS NOT NULL
             THEN (epoch_us(f.e_ts) - epoch_us(s.s_ts)) // 86400000000
           ELSE (epoch_us(s.last_ts) - epoch_us(s.s_ts)) // 86400000000
         END AS BIGINT) AS t_days,
         CASE
           WHEN f.p_ts IS NOT NULL AND (f.e_ts IS NULL OR f.p_ts <= f.e_ts)
             THEN 1
           WHEN f.e_ts IS NOT NULL THEN 2
           ELSE 0
         END AS cause
  FROM signed s LEFT JOIN firsts f ON f.user_id = s.user_id
), tt AS (
  SELECT t_days,
         CAST(COALESCE(SUM(CASE WHEN cause = 1 THEN 1 END), 0)
              AS BIGINT) AS d1,
         CAST(COALESCE(SUM(CASE WHEN cause = 2 THEN 1 END), 0)
              AS BIGINT) AS d2,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM subj GROUP BY t_days
), risk AS (
  SELECT t_days, d1, d2,
         CAST(SUM(m) OVER ()
              - COALESCE(SUM(m) OVER (ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n
  FROM tt
), lnterms AS (
  SELECT t_days, d1, d2, n,
         CASE WHEN d1 + d2 > 0 AND d1 + d2 < n
              THEN CAST(ROUND(ln(1.0 - CAST(d1 + d2 AS DOUBLE) / n)
                              * 1000000.0, 0) AS BIGINT)
              WHEN d1 + d2 > 0 THEN CAST(-99000000 AS BIGINT)
              ELSE 0 END AS ln_micro
  FROM risk
), sprev AS (
  SELECT t_days, d1, d2, n,
         EXP(CAST(COALESCE(SUM(ln_micro) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS DOUBLE) / 1000000.0) AS s_minus
  FROM lnterms
)
SELECT t_days, n AS n_at_risk, d1, d2,
       round(SUM(s_minus * d1 / n) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS cif_purchase_r,
       round(SUM(s_minus * d2 / n) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             6) AS cif_error_r
FROM sprev
ORDER BY t_days
""",
)
def a532_aalen_johansen(spark, sf_dir):
    """Aalen–Johansen cumulative incidence under competing risks:
    after signup a user either converts (first purchase, cause 1) or
    hits a fatal error first (cause 2), censored at last activity —
    the estimator that 1−KM gets WRONG under competing events (it
    overstates each cause by ignoring the other). CIF_k(t) =
    Σ_{s≤t} Ŝ(s−)·d_k/n_s where Ŝ is the any-cause KM: the ln(1−d/n)
    terms are micro-quantized exact BIGINTs (the q245 recipe), exp
    runs once per event day on that exact integer, and each CIF term
    multiplies it by the exact d_k/n ratio before an order-pinned
    cumulative window — identical fp order in both engines, terminal
    round 6. Tie convention: same-instant purchase beats error. At
    100 TB: two user-keyed folds of events; every window runs on the
    ≤31-row day summary (the fixture's event horizon)."""
    ev = table(spark, sf_dir, "events")
    signed = signups(ev).localCheckpoint(eager=False)
    firsts = (
        signed.join(
            ev.filter(F.col("event_type").isin("purchase", "error"))
            .select("user_id", "event_type", F.col("ts").alias("f_raw")),
            "user_id",
        )
        .filter(F.col("f_raw") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("f_raw"))
            ).alias("p_ts"),
            F.min(
                F.when(F.col("event_type") == "error", F.col("f_raw"))
            ).alias("e_ts"),
        )
    )
    is_p = F.col("p_ts").isNotNull() & (
        F.col("e_ts").isNull() | (F.col("p_ts") <= F.col("e_ts"))
    )
    subj = signed.join(firsts, "user_id", "left").select(
        F.when(is_p, days_since_signup("p_ts"))
        .when(F.col("e_ts").isNotNull(), days_since_signup("e_ts"))
        .otherwise(days_since_signup("last_ts"))
        .cast("bigint")
        .alias("t_days"),
        F.when(is_p, 1)
        .when(F.col("e_ts").isNotNull(), 2)
        .otherwise(0)
        .alias("cause"),
    )
    tt = subj.groupBy("t_days").agg(
        F.coalesce(
            F.sum(F.when(F.col("cause") == 1, 1)), F.lit(0)
        ).cast("bigint").alias("d1"),
        F.coalesce(
            F.sum(F.when(F.col("cause") == 2, 1)), F.lit(0)
        ).cast("bigint").alias("d2"),
        F.count("*").cast("bigint").alias("m"),
    )
    wall = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcur = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = tt.select("t_days", "d1", "d2", at_risk("m").alias("n"))
    lnterms = risk.withColumn(
        "ln_micro", km_ln_micro(F.col("d1") + F.col("d2"), F.col("n"))
    )
    sprev = lnterms.select(
        "t_days",
        "d1",
        "d2",
        "n",
        F.exp(
            F.coalesce(F.sum("ln_micro").over(wall), F.lit(0))
            .cast("double") / 1e6
        ).alias("s_minus"),
    )
    return sprev.select(
        "t_days",
        F.col("n").alias("n_at_risk"),
        "d1",
        "d2",
        F.round(
            F.sum(
                F.col("s_minus") * F.col("d1") / F.col("n")
            ).over(wcur),
            6,
        ).alias("cif_purchase_r"),
        F.round(
            F.sum(
                F.col("s_minus") * F.col("d2") / F.col("n")
            ).over(wcur),
            6,
        ).alias("cif_error_r"),
    ).orderBy("t_days")


@query(
    "a533_km_greenwood_ci",
    oracle="""
WITH base AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
         MAX(ts) AS last_ts
  FROM events GROUP BY user_id
), signed AS (
  SELECT user_id, s_ts, last_ts FROM base WHERE s_ts IS NOT NULL
), conv AS (
  SELECT s.user_id, MIN(e.ts) AS p_ts
  FROM signed s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.s_ts
  GROUP BY s.user_id
), subj AS (
  SELECT CAST(CASE WHEN c.p_ts IS NOT NULL
              THEN (epoch_us(c.p_ts) - epoch_us(s.s_ts)) // 86400000000
              ELSE (epoch_us(s.last_ts) - epoch_us(s.s_ts)) // 86400000000
              END AS BIGINT) AS t_days,
         CASE WHEN c.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM signed s LEFT JOIN conv c ON c.user_id = s.user_id
), tt AS (
  SELECT t_days,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM subj GROUP BY t_days
), risk AS (
  SELECT t_days, d,
         CAST(SUM(m) OVER ()
              - COALESCE(SUM(m) OVER (ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n
  FROM tt
), terms AS (
  SELECT t_days, d, n,
         CASE WHEN d > 0 AND d < n
              THEN CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n)
                              * 1000000.0, 0) AS BIGINT)
              WHEN d > 0 THEN CAST(-99000000 AS BIGINT)
              ELSE 0 END AS ln_micro,
         CASE WHEN d = 0 THEN 0
              WHEN d < n
              THEN CAST(ROUND(CAST(d AS DOUBLE) * 1000000000000.0
                              / (CAST(n AS DOUBLE) * (n - d)), 0)
                        AS BIGINT)
              ELSE CAST(1000000000000 AS BIGINT) END AS gw_pico
  FROM risk
), cum AS (
  SELECT t_days, d, n,
         CAST(SUM(ln_micro) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS lsum,
         CAST(SUM(gw_pico) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS gsum
  FROM terms
)
SELECT t_days, n AS n_at_risk, d AS n_events,
       round(EXP(CAST(lsum AS DOUBLE) / 1000000.0), 6) AS survival_r,
       round(GREATEST(
         EXP(CAST(lsum AS DOUBLE) / 1000000.0)
           - 1.96 * EXP(CAST(lsum AS DOUBLE) / 1000000.0)
                  * SQRT(CAST(gsum AS DOUBLE) / 1000000000000.0),
         0.0), 6) AS ci_lo_r,
       round(LEAST(
         EXP(CAST(lsum AS DOUBLE) / 1000000.0)
           + 1.96 * EXP(CAST(lsum AS DOUBLE) / 1000000.0)
                  * SQRT(CAST(gsum AS DOUBLE) / 1000000000000.0),
         1.0), 6) AS ci_hi_r
FROM cum
ORDER BY t_days
""",
)
def a533_km_greenwood_ci(spark, sf_dir):
    """Kaplan–Meier with Greenwood 95% confidence bands for
    signup→purchase conversion — the uncertainty q245 reports none
    of: Var[Ŝ(t)] = Ŝ(t)²·Σ d/(n(n−d)). Both running sums are
    fixed-point exact BIGINTs (ln terms micro-quantized per the q245
    recipe; Greenwood increments pico-quantized, with the d = n
    degenerate tail pinned to exactly 1.0 in both engines), exp/sqrt
    run once per event day on those exact integers, and the linear CI
    is clamped to [0, 1]. At 100 TB the corpus never survives past
    the per-user fold; windows run on the ≤31-row day summary."""
    ev = table(spark, sf_dir, "events")
    signed = signups(ev).localCheckpoint(eager=False)
    risk = risk_table(time_to_purchase(signed, ev))
    wcur = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = F.col("d").cast("double")
    nn = F.col("n").cast("double")
    terms = risk.select(
        "t_days",
        "d",
        "n",
        km_ln_micro(F.col("d"), F.col("n")).alias("ln_micro"),
        F.when(F.col("d") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("d") < F.col("n"),
            F.round(
                dd * 1000000000000.0 / (nn * (F.col("n") - F.col("d"))),
                0,
            ).cast("bigint"),
        )
        .otherwise(F.lit(1000000000000).cast("bigint"))
        .alias("gw_pico"),
    )
    cum = terms.select(
        "t_days",
        "d",
        "n",
        F.sum("ln_micro").over(wcur).cast("bigint").alias("lsum"),
        F.sum("gw_pico").over(wcur).cast("bigint").alias("gsum"),
    )
    s_hat = F.exp(F.col("lsum").cast("double") / 1e6)
    se = s_hat * F.sqrt(F.col("gsum").cast("double") / 1e12)
    return cum.select(
        "t_days",
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.round(s_hat, 6).alias("survival_r"),
        F.round(F.greatest(s_hat - 1.96 * se, F.lit(0.0)), 6)
        .alias("ci_lo_r"),
        F.round(F.least(s_hat + 1.96 * se, F.lit(1.0)), 6)
        .alias("ci_hi_r"),
    ).orderBy("t_days")


# Part co-order graph shared by a066/a067: parts are adjacent when
# they appear together in >= _CO_MIN_ORDERS distinct orders; orders
# with more than _CO_ORDER_CAP distinct parts are dropped BEFORE the
# pair join so the fan-out is bounded by cap^2 x n_orders, never
# O(parts^2) (the q146 hot-bucket discipline). Edge count stays ~3.5k
# across sf0.001-0.1 while nodes grow 100x: the graph SPARSIFIES with
# scale, which is exactly what keeps two-path enumeration bounded.
_CO_ORDER_CAP = 20
_CO_MIN_ORDERS = 2
# Hard edge budget: keep the top-K pairs by support (key tie-break).
# The support threshold alone does NOT bound the graph — any uniform
# data growth multiplies every pair's support, so at 10x the >= 2
# filter admits ~1.2M edges and the downstream closure explodes
# (observed live on the staged scale10 fixture). The cap makes every
# downstream stage (two-path join, label propagation, recursive
# closure) budget-bounded at ANY scale.
_CO_MAX_EDGES = 4000

_CO_EDGES_SQL = f"""
  op AS (
    SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS o,
           CAST(l_partkey AS BIGINT) AS p
    FROM lineitem
  ), okeep AS (
    SELECT o FROM op GROUP BY o
    HAVING COUNT(*) <= {_CO_ORDER_CAP}
  ), opk AS (
    SELECT op.o, p FROM op JOIN okeep ON op.o = okeep.o
  ), edges AS (
    SELECT u, v FROM (
      SELECT a.p AS u, b.p AS v, COUNT(*) AS c
      FROM opk a JOIN opk b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_CO_MIN_ORDERS}
      ORDER BY c DESC, u ASC, v ASC
      LIMIT {_CO_MAX_EDGES}
    )
  )
"""


# Hard cap for min-label-propagation fixed points (a067/a084): the
# co-order and grid graphs converge in <= their diameter (single-digit
# sweeps observed at every sf); 64 is ~10x headroom.
_LABEL_PROP_MAX_SWEEPS = 64


def _coorder_edges(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    op = (
        li.select(
            F.col("l_orderkey").cast("bigint").alias("o"),
            F.col("l_partkey").cast("bigint").alias("p"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    okeep = op.groupBy("o").agg(F.count("*").alias("np")).filter(
        F.col("np") <= _CO_ORDER_CAP
    )
    opk = op.join(okeep.select("o"), "o")
    a = opk.select("o", F.col("p").alias("u"))
    b = opk.select("o", F.col("p").alias("v"))
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= _CO_MIN_ORDERS)
        .orderBy(F.col("c").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(_CO_MAX_EDGES)
        .select("u", "v")
    )


@query(
    "a534_adamic_adar_linkpred",
    oracle=f"""
WITH {_CO_EDGES_SQL},
sym AS (
  SELECT u AS a, v AS b FROM edges
  UNION ALL SELECT v AS a, u AS b FROM edges
), deg AS (
  SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY a
), w AS (
  SELECT node,
         CAST(ROUND(1000000000000.0 / ln(CAST(degree AS DOUBLE)), 0)
              AS BIGINT) AS w_fp
  FROM deg WHERE degree >= 2
), paths AS (
  SELECT e1.b AS u, e2.b AS v, e1.a AS z
  FROM sym e1 JOIN sym e2 ON e1.a = e2.a AND e1.b < e2.b
), cand AS (
  SELECT p.u, p.v,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(w.w_fp) AS BIGINT) AS aa_fp
  FROM paths p JOIN w ON w.node = p.z
  GROUP BY p.u, p.v
), nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
  WHERE e.u IS NULL
), scored AS (
  SELECT n.u, n.v, n.cn,
         round(CAST(n.aa_fp AS DOUBLE) / 1000000000000.0, 6) AS aa_r,
         round(CAST(n.cn AS DOUBLE)
               / (du.degree + dv.degree - n.cn), 6) AS jaccard_r
  FROM nonedge n
  JOIN deg du ON du.node = n.u
  JOIN deg dv ON dv.node = n.v
)
SELECT * FROM scored
ORDER BY aa_r DESC, u ASC, v ASC
LIMIT 20
""",
)
def a534_adamic_adar_linkpred(spark, sf_dir):
    """Adamic-Adar link prediction on the part co-order graph (edge =
    bought together in >= 2 distinct orders; orders capped at 20
    distinct parts before the pair join, the q146 hot-bucket
    discipline). For each NON-edge joined by a two-path, AA =
    sum_z 1/ln(deg z) over common neighbors: ln runs once per NODE on
    its exact integer degree and is pico-quantized to a BIGINT
    weight, so the per-pair sum is exact integer arithmetic
    (float-order-free); common-neighbor Jaccard cn/(deg_u+deg_v-cn)
    rides along. Top 20 by AA with a deterministic tie-break. At
    100 TB: one distinct + two bounded equi-joins; the two-path stage
    is sum(deg^2) of a graph whose edge count stays ~3.5k from
    sf0.001 to sf0.1 while nodes grow 100x."""
    edges = _coorder_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = edges.select(
        F.col("u").alias("a"), F.col("v").alias("b")
    ).unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("degree")
    ).localCheckpoint(eager=False)
    w = deg.filter(F.col("degree") >= 2).select(
        "node",
        F.round(
            1000000000000.0 / F.log(F.col("degree").cast("double")), 0
        ).cast("bigint").alias("w_fp"),
    )
    e1 = sym.select(F.col("a").alias("z"), F.col("b").alias("u"))
    e2 = sym.select(F.col("a").alias("z"), F.col("b").alias("v"))
    paths = e1.join(e2, "z").filter(F.col("u") < F.col("v"))
    cand = (
        paths.join(w.withColumnRenamed("node", "z"), "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("bigint").alias("cn"),
            F.sum("w_fp").cast("bigint").alias("aa_fp"),
        )
    )
    nonedge = cand.join(edges, ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    scored = (
        nonedge.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.round(
                F.col("aa_fp").cast("double") / 1000000000000.0, 6
            ).alias("aa_r"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")),
                6,
            ).alias("jaccard_r"),
        )
    )
    return scored.orderBy(
        F.col("aa_r").desc(), F.col("u").asc(), F.col("v").asc()
    ).limit(20)


@query(
    "a535_connected_components",
    oracle=f"""
WITH RECURSIVE {_CO_EDGES_SQL},
sym AS (
  SELECT u AS a, v AS b FROM edges
  UNION ALL SELECT v AS a, u AS b FROM edges
), nodes AS (
  SELECT DISTINCT a AS node FROM sym
), reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN sym e ON e.a = r.node
), comp AS (
  SELECT node, CAST(MIN(lbl) AS BIGINT) AS lbl FROM reach GROUP BY node
), sizes AS (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS csize FROM comp GROUP BY lbl
)
SELECT csize AS component_size,
       CAST(COUNT(*) AS BIGINT) AS n_components,
       CAST(SUM(csize) AS BIGINT) AS n_nodes
FROM sizes
GROUP BY csize
ORDER BY csize
""",
)
def a535_connected_components(spark, sf_dir):
    """Weakly-connected components of the part co-order graph. The
    corpus-scale work — lineitem distinct, the capped per-order pair
    build, the top-k edge selection — is all distributed; the edge
    list itself is bounded by construction at ``_CO_MAX_EDGES`` rows
    (a literal ``.limit``), so it comes to the driver once (the
    IVF-centroid / q249 bounded-collect pattern) and the components
    are computed by exact union-find — identical output to the former
    min-label-propagation loop (components are a purely set-theoretic
    fact of the edge list; the histogram is integer counts, so there
    is no arithmetic to diverge), without that loop's per-sweep
    join + checkpoint + changed-count jobs (interleaved A/B at sf0.1:
    5.35 s → 2.76 s min-of-5). The oracle is a DuckDB WITH RECURSIVE
    reachability closure. Output is the component-size histogram —
    scale-stable shape, no per-node blowup. At 100 TB: one distinct +
    one bounded pair stage + a ≤4000-row collect. (a084's grid CC
    keeps the sweep loop: the same rewrite A/B-measured 0.6 s SLOWER
    there — two sequential driver collects cost more than its 2-3
    converged sweeps over already-checkpointed 100-cell frames.)"""
    edge_rows = _coorder_edges(spark, sf_dir).collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        u, v = row["u"], row["v"]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    csize: dict[int, int] = {}
    for node in parent:
        r = find(node)
        csize[r] = csize.get(r, 0) + 1
    hist: dict[int, int] = {}
    for s in csize.values():
        hist[s] = hist.get(s, 0) + 1
    lit = literal_frame(
        spark,
        [(s, n, s * n) for s, n in sorted(hist.items())],
        "component_size bigint, n_components bigint, n_nodes bigint",
    )
    return lit.orderBy("component_size")


@query(
    "a536_fuzzy_name_blocking",
    oracle="""
WITH blocked AS (
  SELECT p_partkey, p_name, p_brand,
         regexp_extract(p_name, '([a-z]+)$', 1) AS blk,
         ROW_NUMBER() OVER (
           PARTITION BY regexp_extract(p_name, '([a-z]+)$', 1)
           ORDER BY p_partkey
         ) AS rn
  FROM part
), kept AS (
  SELECT * FROM blocked WHERE rn <= 256
), pairs AS (
  SELECT a.blk,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
         CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS same_brand
  FROM kept a JOIN kept b
    ON a.blk = b.blk AND a.p_partkey < b.p_partkey
  WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
)
SELECT blk,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(dist) AS BIGINT) AS dist_sum,
       round(CAST(SUM(dist) AS DOUBLE) / COUNT(*), 6) AS avg_dist_r,
       round(CAST(SUM(same_brand) AS DOUBLE) / COUNT(*), 6)
         AS same_brand_frac_r
FROM pairs
GROUP BY blk
ORDER BY blk
""",
)
def a536_fuzzy_name_blocking(spark, sf_dir):
    """Blocked fuzzy record matching on part names: block on the last
    word (the noun in this fixture's adjective-noun names), cap each
    block at its first 256 members by key (documented bound — block
    self-joins are quadratic in block size, so the cap, not the data,
    sets the pair budget at 100 TB), then keep near-miss pairs at
    Levenshtein distance 1-3 (0 = exact dup, handled by the exact
    dedup family). Spark uses the 3-arg BANDED levenshtein — O(len*k)
    with early exit above the bound, the form the full O(len^2) DP
    can't match at scale; DuckDB's 2-arg + BETWEEN filter is
    value-identical. Per-block pair counts, exact distance sums, and
    the same-brand fraction (a linkage-precision proxy) come out of
    one fold."""
    p = table(spark, sf_dir, "part")
    blocked = p.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("blk"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("blk").orderBy("p_partkey")
        ),
    )
    kept = blocked.filter(F.col("rn") <= 256).localCheckpoint(
        eager=False
    )
    a = kept.select(
        "blk",
        F.col("p_partkey").alias("ka"),
        F.col("p_name").alias("na"),
        F.col("p_brand").alias("ba"),
    )
    b = kept.select(
        "blk",
        F.col("p_partkey").alias("kb"),
        F.col("p_name").alias("nb"),
        F.col("p_brand").alias("bb"),
    )
    dist = F.levenshtein(F.col("na"), F.col("nb"), 3)
    pairs = (
        a.join(b, "blk")
        .filter(F.col("ka") < F.col("kb"))
        .select(
            "blk",
            dist.cast("bigint").alias("dist"),
            F.when(F.col("ba") == F.col("bb"), 1).otherwise(0)
            .alias("same_brand"),
        )
        .filter(F.col("dist").between(1, 3))
    )
    return (
        pairs.groupBy("blk")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("dist").cast("bigint").alias("dist_sum"),
            F.round(
                F.sum("dist").cast("double") / F.count("*"), 6
            ).alias("avg_dist_r"),
            F.round(
                F.sum("same_brand").cast("double") / F.count("*"), 6
            ).alias("same_brand_frac_r"),
        )
        .orderBy("blk")
    )


@query(
    "a537_cooks_distance",
    oracle="""
WITH xy AS (
  SELECT c.c_custkey,
         CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy
), fit AS (
  SELECT n, sx, sy,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS beta,
         ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
          - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
            * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
            / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
           / (n - 2) AS mse
  FROM m
), diag AS (
  SELECT p.c_custkey, p.x, p.y,
         1.0 / f.n + (p.x - CAST(f.sx AS DOUBLE) / f.n)
                   * (p.x - CAST(f.sx AS DOUBLE) / f.n) / f.sxx_c AS h,
         p.y - (CAST(f.sy AS DOUBLE) / f.n
                - f.beta * (CAST(f.sx AS DOUBLE) / f.n))
             - f.beta * p.x AS e,
         f.mse
  FROM xy p CROSS JOIN fit f
)
SELECT c_custkey, x, y,
       round(h, 6) AS leverage_r,
       round(e / SQRT(mse * (1.0 - h)), 6) AS student_r,
       round(e * e * h / (2.0 * mse * (1.0 - h) * (1.0 - h)), 6)
         AS cooks_d_r
FROM diag
ORDER BY round(e * e * h / (2.0 * mse * (1.0 - h) * (1.0 - h)), 6) DESC,
         c_custkey ASC
LIMIT 20
""",
)
def a537_cooks_distance(spark, sf_dir):
    """OLS influence diagnostics (leverage, internally studentized
    residual, Cook's distance) for spend-on-acctbal simple
    regression, reporting the 20 most influential customers. The
    corpus folds to five exact BIGINT moments (dollar-quantized);
    centered moments, β, and MSE are derived in double with IDENTICAL
    expression text in both engines, so every per-customer h_i =
    1/n + (x−x̄)²/Sxx and D_i = e²h/(2·MSE(1−h)²) is the same double;
    ranking is on the ROUNDED statistic with a key tie-break, which
    is what makes a float-ordered top-k hash-stable. At 100 TB: one
    orders fold, one 1-row broadcast, one corpus re-scan — no
    pairwise anything."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100).alias("y")
        )
        .select(
            "c_custkey",
            F.round("c_acctbal", 0).cast("bigint").alias("x"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    m = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxx_c = F.col("sxx").cast("double") - sxd * F.col("sx") / F.col("n")
    sxy_c = F.col("sxy").cast("double") - sxd * F.col("sy") / F.col("n")
    syy_c = F.col("syy").cast("double") - syd * F.col("sy") / F.col("n")
    fit = m.select(
        "n",
        "sx",
        "sy",
        sxx_c.alias("sxx_c"),
        (sxy_c / sxx_c).alias("beta"),
        ((syy_c - sxy_c * sxy_c / sxx_c) / (F.col("n") - 2)).alias("mse"),
    )
    xd = F.col("x").cast("double")
    h = (
        1.0 / F.col("n")
        + (xd - F.col("sx").cast("double") / F.col("n"))
        * (xd - F.col("sx").cast("double") / F.col("n"))
        / F.col("sxx_c")
    )
    e = (
        F.col("y")
        - (
            F.col("sy").cast("double") / F.col("n")
            - F.col("beta") * (F.col("sx").cast("double") / F.col("n"))
        )
        - F.col("beta") * F.col("x")
    )
    diag = xy.crossJoin(F.broadcast(fit)).select(
        "c_custkey", "x", "y", h.alias("h"), e.alias("e"), "mse"
    )
    cooks = (
        F.col("e") * F.col("e") * F.col("h")
        / (2.0 * F.col("mse") * (1.0 - F.col("h")) * (1.0 - F.col("h")))
    )
    return (
        diag.select(
            "c_custkey",
            "x",
            "y",
            F.round("h", 6).alias("leverage_r"),
            F.round(
                F.col("e") / F.sqrt(F.col("mse") * (1.0 - F.col("h"))), 6
            ).alias("student_r"),
            F.round(cooks, 6).alias("cooks_d_r"),
        )
        .orderBy(F.col("cooks_d_r").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "a538_dixon_q_outlier",
    oracle="""
WITH vals AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) AS x,
         c_custkey
  FROM customer
), ranked AS (
  SELECT nationkey, x,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY x ASC, c_custkey ASC) AS ra,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY x DESC, c_custkey DESC) AS rd,
         CAST(COUNT(*) OVER (PARTITION BY nationkey) AS BIGINT) AS n
  FROM vals
), stats AS (
  SELECT nationkey, MAX(n) AS n,
         CAST(MAX(CASE WHEN ra = 1 THEN x END) AS BIGINT) AS x1,
         CAST(MAX(CASE WHEN ra = 2 THEN x END) AS BIGINT) AS x2,
         CAST(MAX(CASE WHEN rd = 2 THEN x END) AS BIGINT) AS xn1,
         CAST(MAX(CASE WHEN rd = 1 THEN x END) AS BIGINT) AS xn
  FROM ranked GROUP BY nationkey
)
SELECT nationkey, n, x1, x2, xn1, xn,
       round(CAST(xn - xn1 AS DOUBLE) / (xn - x1), 6) AS q_max_r,
       round(CAST(x2 - x1 AS DOUBLE) / (xn - x1), 6) AS q_min_r
FROM stats
ORDER BY nationkey
""",
)
def a538_dixon_q_outlier(spark, sf_dir):
    """Dixon's Q ratio test for a single outlier at each end of the
    per-nation account-balance distribution: Q_max = (x_(n) −
    x_(n−1))/(x_(n) − x_(1)), Q_min mirrored. The four order
    statistics come from two nation-partitioned row_number windows
    with key tie-breaks (duplicated extremes give gap 0, the
    textbook convention), balances are exact cents BIGINTs, and the
    ratio is the only double — terminal, once per nation. At 100 TB
    the windows partition by nation (25 groups) after the scan;
    no global single-partition stage."""
    c = table(spark, sf_dir, "customer")
    vals = c.select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        money("c_acctbal").alias("x"),
        "c_custkey",
    )
    wa = Window.partitionBy("nationkey").orderBy(
        F.col("x").asc(), F.col("c_custkey").asc()
    )
    wd = Window.partitionBy("nationkey").orderBy(
        F.col("x").desc(), F.col("c_custkey").desc()
    )
    ranked = vals.select(
        "nationkey",
        "x",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wd).alias("rd"),
        F.count("*").over(Window.partitionBy("nationkey"))
        .cast("bigint").alias("n"),
    )
    stats = ranked.groupBy("nationkey").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("ra") == 1, F.col("x")))
        .cast("bigint").alias("x1"),
        F.max(F.when(F.col("ra") == 2, F.col("x")))
        .cast("bigint").alias("x2"),
        F.max(F.when(F.col("rd") == 2, F.col("x")))
        .cast("bigint").alias("xn1"),
        F.max(F.when(F.col("rd") == 1, F.col("x")))
        .cast("bigint").alias("xn"),
    )
    rng = (F.col("xn") - F.col("x1")).cast("double")
    return stats.select(
        "nationkey",
        "n",
        "x1",
        "x2",
        "xn1",
        "xn",
        F.round((F.col("xn") - F.col("xn1")).cast("double") / rng, 6)
        .alias("q_max_r"),
        F.round((F.col("x2") - F.col("x1")).cast("double") / rng, 6)
        .alias("q_min_r"),
    ).orderBy("nationkey")


_LLR_MIN_COUNT = 5


@query(
    "a539_dunning_llr_collocations",
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks))) AS pos,
         unnest(toks) AS w
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
             AS toks
    FROM documents
  )
), bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
  FROM bi GROUP BY w1, w2
), m1 AS (
  SELECT w1, CAST(SUM(k11) AS BIGINT) AS c1 FROM big GROUP BY w1
), m2 AS (
  SELECT w2, CAST(SUM(k11) AS BIGINT) AS c2 FROM big GROUP BY w2
), tot AS (
  SELECT CAST(SUM(k11) AS BIGINT) AS nn FROM big
), cells AS (
  SELECT g.w1, g.w2, g.k11,
         CAST(m1.c1 - g.k11 AS BIGINT) AS k12,
         CAST(m2.c2 - g.k11 AS BIGINT) AS k21,
         CAST(t.nn - m1.c1 - m2.c2 + g.k11 AS BIGINT) AS k22,
         m1.c1, m2.c2, t.nn
  FROM big g JOIN m1 ON m1.w1 = g.w1 JOIN m2 ON m2.w2 = g.w2
  CROSS JOIN tot t
  WHERE g.k11 >= {_LLR_MIN_COUNT}
), scored AS (
  SELECT w1, w2, k11,
         round(2.0 * (
             k11 * ln(CAST(k11 AS DOUBLE) * nn
                      / (CAST(c1 AS DOUBLE) * c2))
           + CASE WHEN k12 > 0 THEN
               k12 * ln(CAST(k12 AS DOUBLE) * nn
                        / (CAST(c1 AS DOUBLE) * (nn - c2)))
             ELSE 0.0 END
           + CASE WHEN k21 > 0 THEN
               k21 * ln(CAST(k21 AS DOUBLE) * nn
                        / (CAST(nn - c1 AS DOUBLE) * c2))
             ELSE 0.0 END
           + CASE WHEN k22 > 0 THEN
               k22 * ln(CAST(k22 AS DOUBLE) * nn
                        / (CAST(nn - c1 AS DOUBLE) * (nn - c2)))
             ELSE 0.0 END), 6) AS llr_r
  FROM cells
)
SELECT w1, w2, k11, llr_r
FROM scored
ORDER BY llr_r DESC, w1 ASC, w2 ASC
LIMIT 30
""",
)
def a539_dunning_llr_collocations(spark, sf_dir):
    """Dunning log-likelihood-ratio collocation extraction over
    adjacent token bigrams (the q121 whitespace tokenization) — the
    collocation statistic that, unlike PMI, does not explode on rare
    pairs because each 2×2 cell is weighted by its own count. Margins
    are bigram-position counts so the contingency table is exactly
    consistent (k11+k12+k21+k22 = N); all counts are exact BIGINTs;
    the four ln terms run once per CANDIDATE bigram (k11 ≥ 5) and
    feed the terminal 6dp round; ranking is on the rounded statistic
    with a (w1, w2) tie-break. At 100 TB: explode-to-tokens with the
    positional self-join on (doc, pos+1) — an equi-join — then
    word-keyed folds; candidates, not the corpus, pay the
    transcendental."""
    from ..operators.core import ensure_parallelism

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    a = tok.select("doc_id", "pos", F.col("w").alias("w1"))
    b = tok.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2")
    )
    big = (
        a.join(b, ["doc_id", "pos"])
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("k11"))
        .localCheckpoint(eager=False)
    )
    m1 = big.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("c1"))
    m2 = big.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("c2"))
    tot = big.agg(F.sum("k11").cast("bigint").alias("nn"))
    cells = (
        big.filter(F.col("k11") >= _LLR_MIN_COUNT)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("c1") - F.col("k11")).cast("bigint").alias("k12"),
            (F.col("c2") - F.col("k11")).cast("bigint").alias("k21"),
            (F.col("nn") - F.col("c1") - F.col("c2") + F.col("k11"))
            .cast("bigint").alias("k22"),
            "c1",
            "c2",
            "nn",
        )
    )
    nn = F.col("nn")
    term = lambda k, r, c: F.when(  # noqa: E731
        k > 0,
        k * F.log(
            k.cast("double") * nn / (r.cast("double") * c)
        ),
    ).otherwise(F.lit(0.0))
    llr = 2.0 * (
        F.col("k11")
        * F.log(
            F.col("k11").cast("double") * nn
            / (F.col("c1").cast("double") * F.col("c2"))
        )
        + term(F.col("k12"), F.col("c1"), nn - F.col("c2"))
        + term(F.col("k21"), nn - F.col("c1"), F.col("c2"))
        + term(F.col("k22"), nn - F.col("c1"), nn - F.col("c2"))
    )
    return (
        cells.select(
            "w1", "w2", "k11", F.round(llr, 6).alias("llr_r")
        )
        .orderBy(
            F.col("llr_r").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(30)
    )


@query(
    "a540_herfindahl_concentration",
    oracle="""
WITH rev AS (
  SELECT p.p_type, CAST(l.l_suppkey AS BIGINT) AS s,
         CAST(SUM(CAST(ROUND(l.l_extendedprice
                             * (1.0 - l.l_discount) * 100.0, 0)
                       AS BIGINT)) // 100 AS BIGINT) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_type, l.l_suppkey
), mkt AS (
  SELECT p_type,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(r) AS BIGINT) AS tot,
         CAST(SUM(r * r) AS BIGINT) AS sq
  FROM rev GROUP BY p_type
)
SELECT p_type, n_suppliers,
       round(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6)
         AS hhi_r,
       CAST(ROUND(CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)
                  * 10000.0, 0) AS BIGINT) AS hhi_points,
       round((CAST(tot AS DOUBLE) * tot) / CAST(sq AS DOUBLE), 6)
         AS effective_n_r,
       round((CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)
              - 1.0 / n_suppliers)
             / (1.0 - 1.0 / n_suppliers), 6) AS hhi_norm_r
FROM mkt
ORDER BY p_type
""",
)
def a540_herfindahl_concentration(spark, sf_dir):
    """Herfindahl–Hirschman supplier-concentration index per part-type
    market: HHI = Σ share² computed as the exact-integer ratio
    Σr²/(Σr)² on dollar-quantized revenues (≤ ~1e13 squared terms at
    sf0.1, 100× headroom), plus DOJ-style basis points, effective
    competitor count 1/HHI, and the normalized (HHI − 1/n)/(1 − 1/n).
    One lineitem fold keyed (type, supplier) after the part equi-join
    — the join carries only (partkey, type), Catalyst prunes the rest
    — then a 6-row market fold. At 100 TB nothing outlives the first
    aggregate."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        li.join(p.select("p_partkey", "p_type"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("p_type", F.col("l_suppkey").cast("bigint").alias("s"))
        .agg(
            money_units("l_extendedprice * (1.0 - l_discount)", 100).alias("r")
        )
    )
    mkt = rev.groupBy("p_type").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("r").cast("bigint").alias("tot"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sq"),
    )
    hhi = F.col("sq").cast("double") / (
        F.col("tot").cast("double") * F.col("tot")
    )
    return mkt.select(
        "p_type",
        "n_suppliers",
        F.round(hhi, 6).alias("hhi_r"),
        money(hhi, 4).alias("hhi_points"),
        F.round(
            (F.col("tot").cast("double") * F.col("tot"))
            / F.col("sq").cast("double"),
            6,
        ).alias("effective_n_r"),
        F.round(
            (hhi - 1.0 / F.col("n_suppliers"))
            / (1.0 - 1.0 / F.col("n_suppliers")),
            6,
        ).alias("hhi_norm_r"),
    ).orderBy("p_type")


@query(
    "a541_inequality_panel",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS dollars
  FROM orders GROUP BY o_custkey
), binned AS (
  SELECT CAST(dollars // 100 AS BIGINT) * 100 + 50 AS x,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM spend GROUP BY 1
), lns AS (
  SELECT x, cnt,
         CAST(ROUND(ln(CAST(x AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
           AS lnx_micro
  FROM binned
), agg AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * x) AS BIGINT) AS sx,
         CAST(SUM(cnt * lnx_micro) AS BIGINT) AS sl,
         CAST(SUM(cnt * x * lnx_micro) AS BIGINT) AS sxl
  FROM lns
)
SELECT n,
       round(CAST(sx AS DOUBLE) / n, 6) AS mean_r,
       round((CAST(sxl AS DOUBLE) / 1000000.0
              - CAST(sx AS DOUBLE) * ln(CAST(sx AS DOUBLE) / n))
             / (CAST(sx AS DOUBLE)), 6) AS theil_t_r,
       round(ln(CAST(sx AS DOUBLE) / n)
             - CAST(sl AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
         AS theil_l_r,
       round(1.0 - EXP(CAST(sl AS DOUBLE)
                       / (CAST(n AS DOUBLE) * 1000000.0))
                   / (CAST(sx AS DOUBLE) / n), 6) AS atkinson1_r
FROM agg
""",
)
def a541_inequality_panel(spark, sf_dir):
    """Inequality panel on per-customer spend: Theil T and Theil L
    (the GE(1)/GE(0) entropy pair) plus the Atkinson ε=1 index, which
    is 1 − geomean/mean. Spend is binned to hundred-dollar midpoints
    so the ln domain is BOUNDED BY THE VALUE RANGE, not the customer
    count — ln runs once per bin (the histogram discipline that keeps
    per-row transcendentals out of the sum at 100 TB), micro-
    quantized; Σcnt·lnx and Σcnt·x·lnx are exact BIGINTs; ln(μ) and
    exp run once on the 1-row aggregate. T = (Σxlnx/1e6 − Σx·lnμ)/Σx
    with the 1/(Nμ) folded through — identical expression text both
    engines. One orders fold, one bounded histogram, one readout."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        money_units("o_totalprice", 100).alias("dollars")
    )
    binned = spend.groupBy(
        (F.expr("CAST(dollars div 100 AS BIGINT)") * 100 + 50).alias("x")
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    lns = binned.select(
        "x",
        "cnt",
        money(F.log(F.col("x").cast("double")), 6).alias("lnx_micro"),
    )
    agg = lns.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("x")).cast("bigint").alias("sx"),
        F.sum(F.col("cnt") * F.col("lnx_micro"))
        .cast("bigint").alias("sl"),
        F.sum(F.col("cnt") * F.col("x") * F.col("lnx_micro"))
        .cast("bigint").alias("sxl"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    lnmu = F.log(sxd / F.col("n"))
    return agg.select(
        "n",
        F.round(sxd / F.col("n"), 6).alias("mean_r"),
        F.round(
            (F.col("sxl").cast("double") / 1e6 - sxd * lnmu) / sxd, 6
        ).alias("theil_t_r"),
        F.round(
            lnmu - F.col("sl").cast("double") / (nd * 1e6), 6
        ).alias("theil_l_r"),
        F.round(
            1.0
            - F.exp(F.col("sl").cast("double") / (nd * 1e6))
            / (sxd / F.col("n")),
            6,
        ).alias("atkinson1_r"),
    )


@query(
    "a542_lift_gains_deciles",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS np,
         CAST(SUM(CASE WHEN event_type IN ('click', 'view')
                       THEN 1 ELSE 0 END) AS BIGINT) AS eng
  FROM events GROUP BY user_id
), lab AS (
  SELECT eng, CASE WHEN np >= 14 THEN 1 ELSE 0 END AS pos FROM u
), rng AS (
  SELECT CAST(MIN(eng) AS BIGINT) AS lo, CAST(MAX(eng) AS BIGINT) AS hi,
         CAST(COUNT(*) AS BIGINT) AS nt, CAST(SUM(pos) AS BIGINT) AS pt
  FROM lab
), binned AS (
  SELECT CAST(LEAST(9, ((l.eng - r.lo) * 10) // (r.hi - r.lo + 1))
              AS BIGINT) AS decile_bin,
         l.pos, r.nt, r.pt
  FROM lab l CROSS JOIN rng r
), g AS (
  SELECT decile_bin, MAX(nt) AS nt, MAX(pt) AS pt,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM binned GROUP BY decile_bin
)
SELECT decile_bin, n_users, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_users, 6) AS resp_rate_r,
       round((CAST(n_pos AS DOUBLE) / n_users)
             / (CAST(pt AS DOUBLE) / nt), 6) AS lift_r,
       round(CAST(SUM(n_pos) OVER (ORDER BY decile_bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / MAX(pt) OVER (), 6) AS cum_gain_r
FROM g
ORDER BY decile_bin
""",
)
def a542_lift_gains_deciles(spark, sf_dir):
    """Lift and cumulative-gains table for an engagement-scored
    purchase-depth model readout: score = click+view count, target =
    heavy purchaser (≥14 purchases — the engagement-depth threshold
    convention for this fixture's everyone-does-everything event
    mix). Complements q171 (rank-decile lift via ntile on orders):
    this op adds the cumulative GAINS curve and uses VALUE-GRID bins
    over [min, max] with integer arithmetic — never a global ntile,
    which would single-partition the corpus — so the binning is one broadcast of a 1-row range
    aggregate. Per-bin response rate, lift vs the base rate, and the
    descending cumulative gain curve are exact-count ratios,
    terminal doubles. At 100 TB: one user fold, one broadcast, one
    ≤10-row window."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("np"),
        F.sum(
            F.when(F.col("event_type").isin("click", "view"), 1)
            .otherwise(0)
        ).cast("bigint").alias("eng"),
    )
    lab = u.select(
        "eng", F.when(F.col("np") >= 14, 1).otherwise(0).alias("pos")
    )
    rng = lab.agg(
        F.min("eng").cast("bigint").alias("lo"),
        F.max("eng").cast("bigint").alias("hi"),
        F.count("*").cast("bigint").alias("nt"),
        F.sum("pos").cast("bigint").alias("pt"),
    )
    binned = lab.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(9),
            F.expr("((eng - lo) * 10) div (hi - lo + 1)"),
        ).cast("bigint").alias("decile_bin"),
        "pos",
        "nt",
        "pt",
    )
    g = binned.groupBy("decile_bin").agg(
        F.max("nt").alias("nt"),
        F.max("pt").alias("pt"),
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    wdesc = Window.orderBy(F.col("decile_bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        "decile_bin",
        "n_users",
        "n_pos",
        F.round(
            F.col("n_pos").cast("double") / F.col("n_users"), 6
        ).alias("resp_rate_r"),
        F.round(
            (F.col("n_pos").cast("double") / F.col("n_users"))
            / (F.col("pt").cast("double") / F.col("nt")),
            6,
        ).alias("lift_r"),
        F.round(
            F.sum("n_pos").over(wdesc).cast("double")
            / F.max("pt").over(Window.partitionBy()),
            6,
        ).alias("cum_gain_r"),
    ).orderBy("decile_bin")


from .inference import _phi  # shared A&S-26.2.17 Φ text (both engines)


@query(
    "a543_multiple_testing_fdr",
    oracle=f"""
WITH dollars AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS nationkey,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), nat AS (
  SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM dollars GROUP BY nationkey
), gtot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
         CAST(SUM(ss) AS BIGINT) AS sst,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM nat
), zp AS (
  SELECT nationkey, n,
         (CAST(s AS DOUBLE) / n - CAST(st AS DOUBLE) / nt)
           / (SQRT((CAST(nt AS DOUBLE) * sst - CAST(st AS DOUBLE) * st)
                   / (CAST(nt AS DOUBLE) * (nt - 1)))
              / SQRT(CAST(n AS DOUBLE))) AS z,
         m
  FROM nat CROSS JOIN gtot
), pv AS (
  SELECT nationkey, n, z, m,
         CAST(ROUND((2.0 * (1.0 - {_phi("abs(z)")})) * 1000000000.0, 0)
              AS BIGINT) AS p_fp
  FROM zp
), ranked AS (
  SELECT nationkey, n, z, m, p_fp,
         CAST(ROW_NUMBER() OVER (ORDER BY p_fp ASC, nationkey ASC)
              AS BIGINT) AS rk
  FROM pv
), adj AS (
  SELECT nationkey, n, z, p_fp,
         MIN(CAST(p_fp AS DOUBLE) * m / rk) OVER (
           ORDER BY rk DESC ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS bh_raw,
         MAX(CAST(p_fp AS DOUBLE) * (m - rk + 1)) OVER (
           ORDER BY rk ASC ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS holm_raw
  FROM ranked
)
SELECT nationkey, n, round(z, 6) AS z_r,
       round(CAST(p_fp AS DOUBLE) / 1000000000.0, 6) AS p_r,
       round(LEAST(bh_raw, 1000000000.0) / 1000000000.0, 6) AS p_bh_r,
       round(LEAST(holm_raw, 1000000000.0) / 1000000000.0, 6)
         AS p_holm_r,
       CASE WHEN LEAST(bh_raw, 1000000000.0) < 50000000.0
            THEN 1 ELSE 0 END AS rej_bh,
       CASE WHEN LEAST(holm_raw, 1000000000.0) < 50000000.0
            THEN 1 ELSE 0 END AS rej_holm
FROM adj
ORDER BY nationkey
""",
)
def a543_multiple_testing_fdr(spark, sf_dir):
    """Benjamini–Hochberg FDR and Holm–Bonferroni FWER adjustment
    over the 25-nation family of mean-order-value z-tests — the
    multiple-testing layer every per-segment monitoring sweep needs
    before it pages anyone. Per-nation z comes from exact dollar
    moments; two-sided p runs through the shared A&S Φ text and is
    NANO-QUANTIZED to a BIGINT before ranking, so the p-ordering
    (with a nationkey tie-break) is integer-deterministic; BH is the
    bottom-up running min of p·m/rank, Holm the top-down running max
    of p·(m−rank+1), both clamped at 1. Rejection flags at α=0.05.
    At 100 TB: one orders fold to 25 rows; windows touch 25 rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    dollars = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.round("o_totalprice", 0).cast("bigint").alias("v"),
    )
    nat = dollars.groupBy("nationkey").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    ).localCheckpoint(eager=False)
    glob = nat.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.count("*").cast("bigint").alias("m"),
    )
    zp = nat.crossJoin(F.broadcast(glob)).withColumn(
        "z",
        F.expr(
            "(CAST(s AS DOUBLE) / n - CAST(st AS DOUBLE) / nt)"
            " / (SQRT((CAST(nt AS DOUBLE) * sst - CAST(st AS DOUBLE) * st)"
            "         / (CAST(nt AS DOUBLE) * (nt - 1)))"
            "    / SQRT(CAST(n AS DOUBLE)))"
        ),
    )
    pv = zp.withColumn(
        "p_fp",
        F.expr(
            f"CAST(ROUND((2.0 * (1.0 - {_phi('abs(z)')}))"
            " * 1000000000.0, 0) AS BIGINT)"
        ),
    )
    wrk = Window.orderBy(F.col("p_fp").asc(), F.col("nationkey").asc())
    ranked = pv.withColumn(
        "rk", F.row_number().over(wrk).cast("bigint")
    )
    wdn = Window.orderBy(F.col("rk").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wup = Window.orderBy(F.col("rk").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    adj = ranked.select(
        "nationkey",
        "n",
        "z",
        "p_fp",
        F.min(
            F.col("p_fp").cast("double") * F.col("m") / F.col("rk")
        ).over(wdn).alias("bh_raw"),
        F.max(
            F.col("p_fp").cast("double")
            * (F.col("m") - F.col("rk") + 1)
        ).over(wup).alias("holm_raw"),
    )
    bh = F.least(F.col("bh_raw"), F.lit(1000000000.0))
    holm = F.least(F.col("holm_raw"), F.lit(1000000000.0))
    return adj.select(
        "nationkey",
        "n",
        F.round("z", 6).alias("z_r"),
        F.round(F.col("p_fp").cast("double") / 1000000000.0, 6)
        .alias("p_r"),
        F.round(bh / 1000000000.0, 6).alias("p_bh_r"),
        F.round(holm / 1000000000.0, 6).alias("p_holm_r"),
        F.when(bh < 50000000.0, 1).otherwise(0).alias("rej_bh"),
        F.when(holm < 50000000.0, 1).otherwise(0).alias("rej_holm"),
    ).orderBy("nationkey")


@query(
    "a544_mahalanobis_outliers",
    oracle="""
WITH xy AS (
  SELECT c.c_custkey,
         CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy
), cov AS (
  SELECT n, sx, sy,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
           AS vx,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
           AS vy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1)
           AS cxy
  FROM m
), d2 AS (
  SELECT p.c_custkey, p.x, p.y,
         (c.vy * (p.x - CAST(c.sx AS DOUBLE) / c.n)
               * (p.x - CAST(c.sx AS DOUBLE) / c.n)
          - 2.0 * c.cxy * (p.x - CAST(c.sx AS DOUBLE) / c.n)
                * (p.y - CAST(c.sy AS DOUBLE) / c.n)
          + c.vx * (p.y - CAST(c.sy AS DOUBLE) / c.n)
                * (p.y - CAST(c.sy AS DOUBLE) / c.n))
           / (c.vx * c.vy - c.cxy * c.cxy) AS d2
  FROM xy p CROSS JOIN cov c
)
SELECT c_custkey, x, y,
       round(d2, 6) AS mahal_d2_r,
       round(EXP(-0.5 * d2), 6) AS chi2_p_r
FROM d2
ORDER BY round(d2, 6) DESC, c_custkey ASC
LIMIT 20
""",
)
def a544_mahalanobis_outliers(spark, sf_dir):
    """Bivariate Mahalanobis outlier scan over (account balance,
    total spend): the 2×2 covariance inverts in closed form, so D² =
    [v_y dx² − 2c dx dy + v_x dy²]/det needs no linear algebra
    library, and under bivariate normality D² ~ χ²(2) whose survival
    function is EXACTLY exp(−D²/2) — one transcendental per output
    row. Moments are exact dollar BIGINTs; covariance and per-row D²
    are identical double expressions both engines; top-20 ranks on
    the ROUNDED statistic with a key tie-break. At 100 TB: one fold,
    one 1-row broadcast, one re-scan."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100).alias("y")
        )
        .select(
            "c_custkey",
            F.round("c_acctbal", 0).cast("bigint").alias("x"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    m = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    cov = m.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("sxx").cast("double")
             - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("vx"),
        (
            (F.col("syy").cast("double")
             - F.col("sy").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("vy"),
        (
            (F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("cxy"),
    )
    dx = F.col("x") - F.col("sx").cast("double") / F.col("n")
    dy = F.col("y") - F.col("sy").cast("double") / F.col("n")
    d2 = (
        F.col("vy") * dx * dx
        - 2.0 * F.col("cxy") * dx * dy
        + F.col("vx") * dy * dy
    ) / (F.col("vx") * F.col("vy") - F.col("cxy") * F.col("cxy"))
    scored = xy.crossJoin(F.broadcast(cov)).select(
        "c_custkey",
        "x",
        "y",
        F.round(d2, 6).alias("mahal_d2_r"),
        F.round(F.exp(-0.5 * d2), 6).alias("chi2_p_r"),
    )
    return scored.orderBy(
        F.col("mahal_d2_r").desc(), F.col("c_custkey").asc()
    ).limit(20)


@query(
    "a545_average_precision",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS np,
         CAST(SUM(CASE WHEN event_type IN ('click', 'view')
                       THEN 1 ELSE 0 END) AS BIGINT) AS eng
  FROM events GROUP BY user_id
), ranked AS (
  SELECT CASE WHEN np >= 14 THEN 1 ELSE 0 END AS pos,
         CAST(ROW_NUMBER() OVER (ORDER BY eng DESC, user_id ASC)
              AS BIGINT) AS k
  FROM u
), hits AS (
  SELECT k, pos,
         CAST(SUM(pos) OVER (ORDER BY k
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS h
  FROM ranked
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS p
  FROM ranked
)
SELECT t.n AS n_users, t.p AS n_pos,
       round(CAST(SUM(CASE WHEN h2.pos = 1
                   THEN CAST(h2.h AS DOUBLE) / h2.k END) AS DOUBLE)
             / t.p, 6) AS ap_r,
       round(CAST(MAX(CASE WHEN h2.k = 10 THEN h2.h END) AS DOUBLE)
             / 10.0, 6) AS p_at_10_r,
       round(CAST(MAX(CASE WHEN h2.k = 25 THEN h2.h END) AS DOUBLE)
             / 25.0, 6) AS p_at_25_r,
       round(CAST(t.p AS DOUBLE) / t.n, 6) AS prevalence_r
FROM hits h2 CROSS JOIN tot t
GROUP BY t.n, t.p
""",
)
def a545_average_precision(spark, sf_dir):
    """Average precision (the PR-AUC step estimate) for the
    engagement-ranks-heavy-purchasers readout that q286 scores by
    ROC: AP = (1/P)·Σ_{hits} precision@k, which unlike ROC-AUC does
    not credit true negatives and is the standard retrieval/imbalance
    metric. Ranking is (score desc, user_id) — fully deterministic;
    hit prefix counts are an exact window sum; each AP term is an
    exact-count ratio summed in rank order identically in both
    engines; precision@10/@25 and prevalence ride along. At 100 TB
    the only corpus stage is the user fold; the rank window is
    user-count sized and would move to a top-k + partial-AP design
    if users outgrew a single window (documented bound)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("np"),
        F.sum(
            F.when(F.col("event_type").isin("click", "view"), 1)
            .otherwise(0)
        ).cast("bigint").alias("eng"),
    )
    wr = Window.orderBy(F.col("eng").desc(), F.col("user_id").asc())
    ranked = u.select(
        F.when(F.col("np") >= 14, 1).otherwise(0).alias("pos"),
        F.row_number().over(wr).cast("bigint").alias("k"),
    )
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    hits = ranked.select(
        "k", "pos", F.sum("pos").over(wk).cast("bigint").alias("h")
    )
    tot = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    return (
        hits.crossJoin(F.broadcast(tot))
        .groupBy("n", "p")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("pos") == 1,
                        F.col("h").cast("double") / F.col("k"),
                    )
                ).cast("double") / F.first("p"),
                6,
            ).alias("ap_r"),
            F.round(
                F.max(
                    F.when(F.col("k") == 10, F.col("h"))
                ).cast("double") / 10.0,
                6,
            ).alias("p_at_10_r"),
            F.round(
                F.max(
                    F.when(F.col("k") == 25, F.col("h"))
                ).cast("double") / 25.0,
                6,
            ).alias("p_at_25_r"),
            F.round(
                F.first("p").cast("double") / F.first("n"), 6
            ).alias("prevalence_r"),
        )
        .select(
            F.col("n").alias("n_users"),
            F.col("p").alias("n_pos"),
            "ap_r",
            "p_at_10_r",
            "p_at_25_r",
            "prevalence_r",
        )
    )


_ELBOW_KS = (1, 2, 3, 4, 5, 6, 7, 8)
_ELBOW_K_VALUES = ", ".join(f"({k})" for k in _ELBOW_KS)


@query(
    "a546_elbow_wss",
    oracle=f"""
WITH ks(k) AS (VALUES {_ELBOW_K_VALUES}),
spend AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
), hist AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM spend GROUP BY x
), rng AS (
  SELECT CAST(MIN(x) AS BIGINT) AS lo, CAST(MAX(x) AS BIGINT) AS hi
  FROM hist
), assigned AS (
  SELECT ks.k, LEAST(ks.k - 1, ((h.x - r.lo) * ks.k) // (r.hi - r.lo + 1))
           AS bin,
         h.x, h.cnt
  FROM hist h CROSS JOIN rng r CROSS JOIN ks
), bins AS (
  SELECT k, bin,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * x) AS BIGINT) AS s,
         CAST(SUM(cnt * x * x) AS BIGINT) AS ss
  FROM assigned GROUP BY k, bin
), wss AS (
  SELECT k,
         CAST(SUM(CAST(ROUND(CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * s / n, 0)
                       AS BIGINT)) AS BIGINT) AS wss_units
  FROM bins GROUP BY k
)
SELECT k, wss_units,
       CAST(LAG(wss_units) OVER (ORDER BY k) - wss_units AS BIGINT)
         AS drop_units,
       CAST((LAG(wss_units) OVER (ORDER BY k) - wss_units)
            - (wss_units - LEAD(wss_units) OVER (ORDER BY k))
            AS BIGINT) AS curvature_units
FROM wss
ORDER BY k
""",
)
def a546_elbow_wss(spark, sf_dir):
    """Elbow-method WSS curve for k = 1..8 equal-width segmentations
    of per-customer spend, with first-difference drops and the
    second-difference curvature whose argmax is the knee. The corpus
    folds ONCE to a spend value histogram (domain-bounded, not
    row-bounded), the k-table is a constant literal crossed against
    the histogram, assignment is pure integer arithmetic (never a
    global ntile), and per-(k, bin) WSS = Σx² − (Σx)²/n comes from
    exact BIGINT moments, each bin's WSS rounded to integer units\n    BEFORE the cross-bin sum (bin sums are order-free in integers;\n    the raw double sum differed by 1 ulp between engines). 8 rows.
    At 100 TB: one fold + histogram-sized work; the 8× blowup is on
    the histogram, never the corpus."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        money_units("o_totalprice", 100).alias("x")
    )
    # hist feeds both the range branch and the k-assignment branch;
    # checkpoint so the corpus fold doesn't replan per reference
    hist = spend.groupBy("x").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint(eager=False)
    rng = hist.agg(
        F.min("x").cast("bigint").alias("lo"),
        F.max("x").cast("bigint").alias("hi"),
    )
    ks = literal_frame(spark, [(k,) for k in _ELBOW_KS], "k bigint")
    assigned = (
        hist.crossJoin(F.broadcast(rng))
        .crossJoin(F.broadcast(ks))
        .select(
            "k",
            F.least(
                F.col("k") - 1,
                F.expr("((x - lo) * k) div (hi - lo + 1)"),
            ).alias("bin"),
            "x",
            "cnt",
        )
    )
    bins = assigned.groupBy("k", "bin").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("x")).cast("bigint").alias("s"),
        F.sum(F.col("cnt") * F.col("x") * F.col("x"))
        .cast("bigint").alias("ss"),
    )
    wss = bins.groupBy("k").agg(
        F.sum(
            F.round(
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n"),
                0,
            ).cast("bigint")
        ).cast("bigint").alias("wss_units")
    )
    wk = Window.orderBy("k")
    return wss.select(
        "k",
        "wss_units",
        (F.lag("wss_units").over(wk) - F.col("wss_units"))
        .cast("bigint").alias("drop_units"),
        (
            (F.lag("wss_units").over(wk) - F.col("wss_units"))
            - (F.col("wss_units") - F.lead("wss_units").over(wk))
        ).cast("bigint").alias("curvature_units"),
    ).orderBy("k")


_HILL_KS = (50, 100, 200)


@query(
    "a079_hill_tail_index",
    oracle=f"""
WITH ks(k) AS (VALUES {", ".join(f"({k})" for k in _HILL_KS)}),
vals AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                                 o_orderkey ASC) AS BIGINT) AS rk
  FROM orders
), top AS (
  SELECT x, rk,
         CAST(ROUND(ln(CAST(x AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
           AS lnx_micro
  FROM vals WHERE rk <= {max(_HILL_KS) + 1}
), per_k AS (
  SELECT ks.k,
         CAST(SUM(CASE WHEN t.rk <= ks.k THEN t.lnx_micro END)
              AS BIGINT) AS sl,
         CAST(MAX(CASE WHEN t.rk = ks.k + 1 THEN t.lnx_micro END)
              AS BIGINT) AS ln_thresh,
         CAST(MAX(CASE WHEN t.rk = ks.k + 1 THEN t.x END)
              AS BIGINT) AS x_thresh
  FROM top t CROSS JOIN ks
  GROUP BY ks.k
)
SELECT k, x_thresh,
       round((CAST(sl AS DOUBLE) / k - ln_thresh) / 1000000.0, 6)
         AS hill_h_r,
       round(1000000.0 / (CAST(sl AS DOUBLE) / k - ln_thresh), 6)
         AS alpha_r
FROM per_k
ORDER BY k
""",
)
def a079_hill_tail_index(spark, sf_dir):
    """Hill estimator of the order-value tail index at k = 50/100/200
    top order statistics: H_k = (1/k)Σ ln(x_(i)/x_(k+1)), α = 1/H —
    the heavy-tail exponent that decides whether spend aggregates
    even have a variance. The global rank is a top-(k_max+1) —
    TakeOrderedAndProject in Spark, never a full sort — with a
    deterministic (value, key) tie-break; ln is micro-quantized per
    retained row (BOUNDED at 201 transcendentals by construction, not
    by sf), so Σln is an exact BIGINT and H is a terminal double. At
    100 TB: one scan with a per-partition top-k combine."""
    o = table(spark, sf_dir, "orders")
    wr = Window.orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    vals = o.select(
        F.round("o_totalprice", 0).cast("bigint").alias("x"),
        F.row_number().over(wr).cast("bigint").alias("rk"),
    )
    top = vals.filter(F.col("rk") <= max(_HILL_KS) + 1).select(
        "x",
        "rk",
        money(F.log(F.col("x").cast("double")), 6).alias("lnx_micro"),
    )
    ks = literal_frame(spark, [(k,) for k in _HILL_KS], "k bigint")
    per_k = (
        top.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("rk") <= F.col("k"), F.col("lnx_micro"))
            ).cast("bigint").alias("sl"),
            F.max(
                F.when(F.col("rk") == F.col("k") + 1, F.col("lnx_micro"))
            ).cast("bigint").alias("ln_thresh"),
            F.max(
                F.when(F.col("rk") == F.col("k") + 1, F.col("x"))
            ).cast("bigint").alias("x_thresh"),
        )
    )
    h = (
        F.col("sl").cast("double") / F.col("k") - F.col("ln_thresh")
    )
    return per_k.select(
        "k",
        "x_thresh",
        F.round(h / 1e6, 6).alias("hill_h_r"),
        F.round(1e6 / h, 6).alias("alpha_r"),
    ).orderBy("k")


@query(
    "a080_diff_in_diff",
    oracle="""
WITH cell AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS treat,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
              THEN 0 ELSE 1 END AS post,
         user_id,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
), per_user AS (
  SELECT treat, post, user_id, CAST(SUM(v) AS BIGINT) AS y
  FROM cell GROUP BY treat, post, user_id
), cells AS (
  SELECT treat, post,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS ss
  FROM per_user GROUP BY treat, post
), wide AS (
  SELECT
    MAX(CASE WHEN treat = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END)
      AS m_t1,
    MAX(CASE WHEN treat = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END)
      AS m_t0,
    MAX(CASE WHEN treat = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END)
      AS m_c1,
    MAX(CASE WHEN treat = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END)
      AS m_c0,
    SUM((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
        / (n - 1) / n) AS var_did,
    CAST(SUM(n) AS BIGINT) AS n_obs
  FROM cells
)
SELECT n_obs,
       round(m_t1 / 100.0, 6) AS mean_treat_post_r,
       round(m_t0 / 100.0, 6) AS mean_treat_pre_r,
       round(m_c1 / 100.0, 6) AS mean_ctrl_post_r,
       round(m_c0 / 100.0, 6) AS mean_ctrl_pre_r,
       round((m_t1 - m_t0 - (m_c1 - m_c0)) / 100.0, 6) AS did_r,
       round(SQRT(var_did) / 100.0, 6) AS se_r,
       round((m_t1 - m_t0 - (m_c1 - m_c0)) / SQRT(var_did), 6) AS t_r
FROM wide
""",
)
def a080_diff_in_diff(spark, sf_dir):
    """Difference-in-differences on per-user purchase revenue around
    the mid-month boundary (post = Jan 16+), with a deterministic
    parity treatment assignment — the 2×2 design whose interaction
    term nets out both the group level difference and the common
    time shock. Each cell folds to exact cents (n, Σy, Σy²); the four
    means, the DiD = (T₁−T₀)−(C₁−C₀), and the unequal-variance SE
    √Σs²ᵢ/nᵢ are terminal doubles off those integers. At 100 TB: one
    filtered fold keyed (treat, post, user), then 4 rows."""
    ev = table(spark, sf_dir, "events")
    cell = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).cast("bigint").alias("treat"),
        F.when(
            F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0
        ).otherwise(1).alias("post"),
        "user_id",
        money("value").alias("v"),
    )
    per_user = cell.groupBy("treat", "post", "user_id").agg(
        F.sum("v").cast("bigint").alias("y")
    )
    cells = per_user.groupBy("treat", "post").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    pick = lambda t, p: F.max(  # noqa: E731
        F.when((F.col("treat") == t) & (F.col("post") == p), mean)
    )
    wide = cells.agg(
        pick(1, 1).alias("m_t1"),
        pick(1, 0).alias("m_t0"),
        pick(0, 1).alias("m_c1"),
        pick(0, 0).alias("m_c0"),
        F.sum(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("var_did"),
        F.sum("n").cast("bigint").alias("n_obs"),
    )
    did = F.col("m_t1") - F.col("m_t0") - (
        F.col("m_c1") - F.col("m_c0")
    )
    return wide.select(
        "n_obs",
        F.round(F.col("m_t1") / 100.0, 6).alias("mean_treat_post_r"),
        F.round(F.col("m_t0") / 100.0, 6).alias("mean_treat_pre_r"),
        F.round(F.col("m_c1") / 100.0, 6).alias("mean_ctrl_post_r"),
        F.round(F.col("m_c0") / 100.0, 6).alias("mean_ctrl_pre_r"),
        F.round(did / 100.0, 6).alias("did_r"),
        F.round(F.sqrt(F.col("var_did")) / 100.0, 6).alias("se_r"),
        F.round(did / F.sqrt(F.col("var_did")), 6).alias("t_r"),
    )


@query(
    "a081_iv_wald_estimator",
    oracle="""
WITH obs AS (
  SELECT CAST(c.c_nationkey % 2 AS BIGINT) AS z,
         CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey, c.c_acctbal
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z * x) AS BIGINT) AS szx,
         CAST(SUM(z * y) AS BIGINT) AS szy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM obs
)
SELECT n,
       round((CAST(szy AS DOUBLE) - CAST(sz AS DOUBLE) * sy / n)
             / (CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * sx / n), 6)
         AS beta_iv_r,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6)
         AS beta_ols_r,
       round((CAST(szx AS DOUBLE) - CAST(sz AS DOUBLE) * sx / n)
             / (CAST(sz AS DOUBLE) * (n - sz) / n), 6)
         AS first_stage_r,
       round(CAST(szy AS DOUBLE) / sz
             - (CAST(sy AS DOUBLE) - szy) / (n - sz), 6)
         AS reduced_form_r
FROM m
""",
)
def a081_iv_wald_estimator(spark, sf_dir):
    """Instrumental-variable Wald estimator with a binary instrument
    (nation parity), treatment = account balance, outcome = spend:
    β_IV = cov(z,y)/cov(z,x) — for a binary z this IS the Wald ratio
    (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — next to the plain OLS β for contrast, the
    first-stage slope cov(z,x)/var(z), and the reduced form ȳ₁−ȳ₀.
    Everything derives from ONE pass of exact BIGINT cross-moments;
    the ratios are terminal doubles with identical expression text in
    both engines. At 100 TB: one orders fold keyed by customer, one
    8-number summary."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    obs = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100).alias("y")
        )
        .select(
            (F.col("c_nationkey") % 2).cast("bigint").alias("z"),
            F.round("c_acctbal", 0).cast("bigint").alias("x"),
            "y",
        )
    )
    m = obs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("z") * F.col("x")).cast("bigint").alias("szx"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n")
    czy = F.col("szy").cast("double") - F.col("sz").cast("double") * F.col("sy") / nd
    czx = F.col("szx").cast("double") - F.col("sz").cast("double") * F.col("sx") / nd
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / nd
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    return m.select(
        "n",
        F.round(czy / czx, 6).alias("beta_iv_r"),
        F.round(cxy / cxx, 6).alias("beta_ols_r"),
        F.round(
            czx
            / (F.col("sz").cast("double") * (nd - F.col("sz")) / nd),
            6,
        ).alias("first_stage_r"),
        F.round(
            F.col("szy").cast("double") / F.col("sz")
            - (F.col("sy").cast("double") - F.col("szy"))
            / (nd - F.col("sz")),
            6,
        ).alias("reduced_form_r"),
    )


@query(
    "a082_oaxaca_blinder",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS g,
         CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment, c.c_acctbal
), m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM obs GROUP BY g
), fit AS (
  SELECT g, n,
         CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS beta
  FROM m
), wide AS (
  SELECT
    MAX(CASE WHEN g = 1 THEN n END) AS n_a,
    MAX(CASE WHEN g = 0 THEN n END) AS n_b,
    MAX(CASE WHEN g = 1 THEN mx END) AS mx_a,
    MAX(CASE WHEN g = 0 THEN mx END) AS mx_b,
    MAX(CASE WHEN g = 1 THEN my END) AS my_a,
    MAX(CASE WHEN g = 0 THEN my END) AS my_b,
    MAX(CASE WHEN g = 1 THEN beta END) AS beta_a,
    MAX(CASE WHEN g = 0 THEN beta END) AS beta_b
  FROM fit
)
SELECT n_a, n_b,
       round(my_a - my_b, 6) AS gap_r,
       round((mx_a - mx_b) * beta_b, 6) AS explained_r,
       round(mx_a * (beta_a - beta_b)
             + (my_a - beta_a * mx_a) - (my_b - beta_b * mx_b), 6)
         AS unexplained_r,
       round(beta_a, 6) AS beta_a_r,
       round(beta_b, 6) AS beta_b_r
FROM wide
""",
)
def a082_oaxaca_blinder(spark, sf_dir):
    """Oaxaca–Blinder two-fold decomposition of the AUTOMOBILE-vs-
    rest spend gap into the part explained by different account-
    balance ENDOWMENTS at reference-group prices ((x̄_A − x̄_B)·β_B)
    and the unexplained coefficient + intercept shift — the standard
    wage-gap audit ported to segment analytics. Identity: gap =
    explained + unexplained EXACTLY, a property test pin. Per-group
    OLS comes from exact BIGINT moments; every readout is a terminal
    double of those. At 100 TB: one orders fold, one 2-row group
    summary, one pivot."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    obs = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_mktsegment", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100).alias("y")
        )
        .select(
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
            .otherwise(0).alias("g"),
            F.round("c_acctbal", 0).cast("bigint").alias("x"),
            "y",
        )
    )
    m = obs.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    fit = m.select(
        "g",
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (
            (F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        ).alias("beta"),
    )
    pick = lambda g, c_: F.max(  # noqa: E731
        F.when(F.col("g") == g, F.col(c_))
    )
    wide = fit.agg(
        pick(1, "n").alias("n_a"),
        pick(0, "n").alias("n_b"),
        pick(1, "mx").alias("mx_a"),
        pick(0, "mx").alias("mx_b"),
        pick(1, "my").alias("my_a"),
        pick(0, "my").alias("my_b"),
        pick(1, "beta").alias("beta_a"),
        pick(0, "beta").alias("beta_b"),
    )
    return wide.select(
        "n_a",
        "n_b",
        F.round(F.col("my_a") - F.col("my_b"), 6).alias("gap_r"),
        F.round(
            (F.col("mx_a") - F.col("mx_b")) * F.col("beta_b"), 6
        ).alias("explained_r"),
        F.round(
            F.col("mx_a") * (F.col("beta_a") - F.col("beta_b"))
            + (F.col("my_a") - F.col("beta_a") * F.col("mx_a"))
            - (F.col("my_b") - F.col("beta_b") * F.col("mx_b")),
            6,
        ).alias("unexplained_r"),
        F.round("beta_a", 6).alias("beta_a_r"),
        F.round("beta_b", 6).alias("beta_b_r"),
    )


@query(
    "a083_weibull_plot_fit",
    oracle="""
WITH base AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
         MAX(ts) AS last_ts
  FROM events GROUP BY user_id
), signed AS (
  SELECT user_id, s_ts, last_ts FROM base WHERE s_ts IS NOT NULL
), conv AS (
  SELECT s.user_id, MIN(e.ts) AS p_ts
  FROM signed s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.s_ts
  GROUP BY s.user_id
), subj AS (
  SELECT CAST(CASE WHEN c.p_ts IS NOT NULL
              THEN (epoch_us(c.p_ts) - epoch_us(s.s_ts)) // 86400000000
              ELSE (epoch_us(s.last_ts) - epoch_us(s.s_ts)) // 86400000000
              END AS BIGINT) AS t_days,
         CASE WHEN c.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM signed s LEFT JOIN conv c ON c.user_id = s.user_id
), tt AS (
  SELECT t_days, CAST(SUM(ev) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM subj GROUP BY t_days
), risk AS (
  SELECT t_days, d,
         CAST(SUM(m) OVER ()
              - COALESCE(SUM(m) OVER (ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n
  FROM tt
), lnterms AS (
  SELECT t_days,
         CASE WHEN d > 0 AND d < n
              THEN CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n)
                              * 1000000.0, 0) AS BIGINT)
              WHEN d > 0 THEN CAST(-99000000 AS BIGINT)
              ELSE 0 END AS ln_micro
  FROM risk
), km AS (
  SELECT t_days,
         CAST(SUM(ln_micro) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS lsum
  FROM lnterms
), pts AS (
  SELECT CAST(ROUND(ln(CAST(t_days AS DOUBLE)) * 1000000.0, 0)
              AS BIGINT) AS x_fp,
         CAST(ROUND(ln(-(CAST(lsum AS DOUBLE) / 1000000.0))
                    * 1000000.0, 0) AS BIGINT) AS y_fp
  FROM km WHERE t_days >= 1 AND lsum < 0 AND lsum > -99000000
), m2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_fp) AS BIGINT) AS sx, CAST(SUM(y_fp) AS BIGINT) AS sy,
         CAST(SUM(x_fp * x_fp) AS BIGINT) AS sxx,
         CAST(SUM(x_fp * y_fp) AS BIGINT) AS sxy
  FROM pts
)
SELECT n AS n_points,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6)
         AS shape_r,
       round(EXP(-(CAST(sy AS DOUBLE) / n
                   - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                     * (CAST(sx AS DOUBLE) / n)) / 1000000.0
                 / ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                 * 1000000.0 / 1000000.0), 6) AS scale_days_r
FROM m2
""",
)
def a083_weibull_plot_fit(spark, sf_dir):
    """Weibull probability-plot fit to the signup→purchase KM curve:
    regress y = ln(−ln S(t)) on x = ln t — linear iff T ~ Weibull,
    slope = shape k̂, scale = exp(−â/k̂). Because the engine's KM is
    an exact micro-quantized ln SUM, ln S(t) IS lsum/1e6 with no
    second exp/ln round-trip; x and y are micro-quantized per KM day
    (≤31 bounded points), so the OLS moments are exact BIGINTs and
    the fit is terminal. Degenerate S=1/S≤e⁻⁹⁹ days are excluded by
    integer guards. At 100 TB: inherits the q245 scale shape — the
    corpus dies at the per-user fold."""
    ev = table(spark, sf_dir, "events")
    signed = signups(ev).localCheckpoint(eager=False)
    risk = risk_table(time_to_purchase(signed, ev))
    wcur = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lnterms = risk.select(
        "t_days", km_ln_micro(F.col("d"), F.col("n")).alias("ln_micro")
    )
    km = lnterms.select(
        "t_days",
        F.sum("ln_micro").over(wcur).cast("bigint").alias("lsum"),
    )
    pts = km.filter(
        (F.col("t_days") >= 1)
        & (F.col("lsum") < 0)
        & (F.col("lsum") > KM_LN_ZERO)
    ).select(
        money(F.log(F.col("t_days").cast("double")), 6).alias("x_fp"),
        money(F.log(-(F.col("lsum").cast("double") / 1e6)), 6).alias("y_fp"),
    )
    m2 = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x_fp").cast("bigint").alias("sx"),
        F.sum("y_fp").cast("bigint").alias("sy"),
        F.sum(F.col("x_fp") * F.col("x_fp")).cast("bigint").alias("sxx"),
        F.sum(F.col("x_fp") * F.col("y_fp")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n")
    slope = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy") / nd
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / nd
    )
    intercept_micro = (
        F.col("sy").cast("double") / nd
        - slope * (F.col("sx").cast("double") / nd)
    )
    return m2.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("shape_r"),
        F.round(
            F.exp(-intercept_micro / 1e6 / slope * 1e6 / 1e6), 6
        ).alias("scale_days_r"),
    )


_DBSCAN_GRID = 40
_DBSCAN_DENS = 320  # core cell iff cnt * _DBSCAN_DENS >= n_points
_DBSCAN_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
_DBSCAN_OFF_VALUES = ", ".join(f"({dx}, {dy})" for dx, dy in _DBSCAN_OFFSETS)


@query(
    "a084_dbscan_grid",
    oracle=f"""
WITH RECURSIVE off(dx, dy) AS (VALUES {_DBSCAN_OFF_VALUES}),
xy AS (
  SELECT CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), rng AS (
  SELECT CAST(MIN(x) AS BIGINT) AS xlo, CAST(MAX(x) AS BIGINT) AS xhi,
         CAST(MIN(y) AS BIGINT) AS ylo, CAST(MAX(y) AS BIGINT) AS yhi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM xy
), cells AS (
  SELECT LEAST({_DBSCAN_GRID - 1},
               ((p.x - r.xlo) * {_DBSCAN_GRID}) // (r.xhi - r.xlo + 1))
           AS cx,
         LEAST({_DBSCAN_GRID - 1},
               ((p.y - r.ylo) * {_DBSCAN_GRID}) // (r.yhi - r.ylo + 1))
           AS cy,
         r.n
  FROM xy p CROSS JOIN rng r
), occ AS (
  SELECT cx, cy, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY cx, cy
), core AS (
  SELECT cx, cy, cnt, CAST(cx * {_DBSCAN_GRID} + cy AS BIGINT) AS key
  FROM occ WHERE cnt * {_DBSCAN_DENS} >= n
), adj AS (
  SELECT a.key AS u, b.key AS v
  FROM core a JOIN off o ON TRUE
  JOIN core b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
), reach(node, lbl) AS (
  SELECT key, key FROM core
  UNION
  SELECT e.v, r.lbl FROM reach r JOIN adj e ON e.u = r.node
), comp AS (
  SELECT node, CAST(MIN(lbl) AS BIGINT) AS cluster_id FROM reach
  GROUP BY node
)
SELECT c.cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(k.cnt) AS BIGINT) AS n_points
FROM comp c JOIN core k ON k.key = c.node
GROUP BY c.cluster_id
ORDER BY n_points DESC, cluster_id ASC
""",
)
def a084_dbscan_grid(spark, sf_dir):
    """Grid-DBSCAN density clustering of customers in (account
    balance, spend) space: a scale-free 40×40 value grid (integer
    binning off a 1-row broadcast range — never a global sort), core
    cells by RELATIVE density (cnt·320 ≥ n, so the threshold tracks
    sf), clusters = connected components of the 8-neighborhood
    core-cell adjacency, labels propagated with the a067 min-label
    loop to a driver-checked fixed point. Cell-level DBSCAN is the
    standard gridded approximation that keeps the neighbor search an
    EQUI-join on shifted integer coordinates (the constant 9-offset
    table) instead of an O(n²) distance join; the cell count is
    bounded at 1600 by construction at any sf. Oracle: recursive-CTE
    closure over the same cells."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100).alias("y")
        )
        .select(
            F.round("c_acctbal", 0).cast("bigint").alias("x"), "y"
        )
    )
    rng = xy.agg(
        F.min("x").cast("bigint").alias("xlo"),
        F.max("x").cast("bigint").alias("xhi"),
        F.min("y").cast("bigint").alias("ylo"),
        F.max("y").cast("bigint").alias("yhi"),
        F.count("*").cast("bigint").alias("n"),
    )
    g = _DBSCAN_GRID
    cells = xy.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(g - 1), F.expr(f"((x - xlo) * {g}) div (xhi - xlo + 1)")
        ).alias("cx"),
        F.least(
            F.lit(g - 1), F.expr(f"((y - ylo) * {g}) div (yhi - ylo + 1)")
        ).alias("cy"),
        "n",
    )
    occ = cells.groupBy("cx", "cy").agg(
        F.max("n").alias("n"), F.count("*").cast("bigint").alias("cnt")
    )
    core = occ.filter(
        F.col("cnt") * _DBSCAN_DENS >= F.col("n")
    ).select(
        "cx", "cy", "cnt",
        (F.col("cx") * g + F.col("cy")).cast("bigint").alias("key"),
    ).localCheckpoint(eager=True)
    off = literal_frame(spark, _DBSCAN_OFFSETS, "dx long, dy long")
    shifted = core.crossJoin(F.broadcast(off)).select(
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
        F.col("key").alias("u"),
    )
    adj = shifted.join(
        core.select("cx", "cy", F.col("key").alias("v")), ["cx", "cy"]
    ).select("u", "v").localCheckpoint(eager=True)
    labels = core.select(
        F.col("key").alias("node"), F.col("key").alias("lbl")
    ).localCheckpoint(eager=True)
    # Bounded like a067: loud failure beats a hung fixed point.
    for _sweep in range(_LABEL_PROP_MAX_SWEEPS):
        nb = (
            adj.join(
                labels.select(
                    F.col("node").alias("u"), F.col("lbl").alias("ulb")
                ),
                "u",
            )
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("ulb").alias("nlb"))
        )
        new = labels.join(nb, "node", "left").select(
            "node",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nlb"), F.col("lbl"))
            ).alias("lbl"),
        ).localCheckpoint(eager=True)
        changed = (
            new.alias("a")
            .join(labels.alias("b"), "node")
            .filter(F.col("a.lbl") != F.col("b.lbl"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:  # pragma: no cover - regression guard
        raise RuntimeError(
            f"a084 label propagation did not converge in"
            f" {_LABEL_PROP_MAX_SWEEPS} sweeps"
        )
    return (
        labels.join(core.select(F.col("key").alias("node"), "cnt"), "node")
        .groupBy(F.col("lbl").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum("cnt").cast("bigint").alias("n_points"),
        )
        .orderBy(F.col("n_points").desc(), F.col("cluster_id").asc())
    )


_GMM_BINS = 512
_GMM_ITERS = 5


def _gmm_estep_sql(p: str) -> str:
    """One E-step + M-step over the materialized histogram `h`,
    reading params from CTE name `p` — shared SQL text so every
    iteration is literally the same expression in both engines.
    Responsibilities are micro-quantized (1e6 fixed point) so the
    M-step moments are exact BIGINTs."""
    r1 = (
        f"(pi1 * EXP(-(h.xg - {p}.mu1) * (h.xg - {p}.mu1)"
        f" / (2.0 * {p}.s1 * {p}.s1)) / {p}.s1)"
    )
    r2 = (
        f"((1.0 - pi1) * EXP(-(h.xg - {p}.mu2) * (h.xg - {p}.mu2)"
        f" / (2.0 * {p}.s2 * {p}.s2)) / {p}.s2)"
    )
    return f"""
  SELECT
    CAST(SUM(h.cnt * rfp) AS BIGINT) AS n1,
    CAST(SUM(h.cnt) * 1000000 AS BIGINT) AS ntot,
    SUM(h.cnt * rfp * h.xg) * 1.0 / SUM(h.cnt * rfp) AS mu1,
    SQRT(GREATEST(
      SUM(h.cnt * rfp * h.xg * h.xg) * 1.0 / SUM(h.cnt * rfp)
      - (SUM(h.cnt * rfp * h.xg) * 1.0 / SUM(h.cnt * rfp))
        * (SUM(h.cnt * rfp * h.xg) * 1.0 / SUM(h.cnt * rfp)),
      CAST(0.25 AS DOUBLE))) AS s1,
    SUM(h.cnt * (1000000 - rfp) * h.xg) * 1.0
      / SUM(h.cnt * (1000000 - rfp)) AS mu2,
    SQRT(GREATEST(
      SUM(h.cnt * (1000000 - rfp) * h.xg * h.xg) * 1.0
        / SUM(h.cnt * (1000000 - rfp))
      - (SUM(h.cnt * (1000000 - rfp) * h.xg) * 1.0
         / SUM(h.cnt * (1000000 - rfp)))
        * (SUM(h.cnt * (1000000 - rfp) * h.xg) * 1.0
           / SUM(h.cnt * (1000000 - rfp))),
      CAST(0.25 AS DOUBLE))) AS s2,
    CAST(SUM(h.cnt * rfp) AS DOUBLE) / (SUM(h.cnt) * 1000000) AS pi1
  FROM (
    SELECT h.xg, h.cnt,
           CAST(ROUND({r1} / ({r1} + {r2}) * 1000000.0, 0) AS BIGINT)
             AS rfp
    FROM hist h CROSS JOIN {p}
  ) h
"""


@query(
    "a085_gmm_em_1d",
    oracle=f"""
WITH spend AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
), rng AS MATERIALIZED (
  SELECT CAST(MIN(x) AS BIGINT) AS lo, CAST(MAX(x) AS BIGINT) AS hi
  FROM spend
), hist AS MATERIALIZED (
  SELECT LEAST({_GMM_BINS - 1},
               ((s.x - r.lo) * {_GMM_BINS}) // (r.hi - r.lo + 1)) AS xg,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM spend s CROSS JOIN rng r
  GROUP BY 1
), mom AS MATERIALIZED (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * xg) AS BIGINT) AS sx,
         CAST(SUM(cnt * xg * xg) AS BIGINT) AS sxx
  FROM hist
), it0 AS MATERIALIZED (
  SELECT CAST(0.5 AS DOUBLE) AS pi1,
         CAST({_GMM_BINS} AS DOUBLE) / 4.0 AS mu1,
         CAST({_GMM_BINS} AS DOUBLE) * 3.0 / 4.0 AS mu2,
         SQRT((CAST(m.n AS DOUBLE) * m.sxx - CAST(m.sx AS DOUBLE) * m.sx)
              / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS s1,
         SQRT((CAST(m.n AS DOUBLE) * m.sxx - CAST(m.sx AS DOUBLE) * m.sx)
              / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS s2
  FROM mom m
),
it1 AS MATERIALIZED ({_gmm_estep_sql("it0")}),
it2 AS MATERIALIZED ({_gmm_estep_sql("it1")}),
it3 AS MATERIALIZED ({_gmm_estep_sql("it2")}),
it4 AS MATERIALIZED ({_gmm_estep_sql("it3")}),
it5 AS MATERIALIZED ({_gmm_estep_sql("it4")})
SELECT CAST({_GMM_ITERS} AS BIGINT) AS n_iters,
       round(pi1, 6) AS pi1_r,
       round(mu1, 6) AS mu1_grid_r, round(s1, 6) AS sigma1_grid_r,
       round(mu2, 6) AS mu2_grid_r, round(s2, 6) AS sigma2_grid_r
FROM it5
""",
)
def a085_gmm_em_1d(spark, sf_dir):
    """Two-component 1D Gaussian-mixture EM over per-customer spend,
    run 5 fixed iterations from a deterministic quartile init — the
    canonical iterative-refinement algorithm expressed scale-first:
    the corpus folds ONCE to a 512-bin value-grid histogram (bounded
    by construction, so E-steps cost O(bins), never O(rows)), each
    E-step's responsibilities are MICRO-QUANTIZED to 1e6 fixed point
    so every M-step moment (Σc·r, Σc·r·x, Σc·r·x²) is an exact BIGINT
    with sf1 headroom, and variances are floored at 0.25 grid² to pin
    the degenerate-collapse branch identically in both engines. The
    oracle unrolls the 5 iterations as MATERIALIZED CTEs sharing ONE
    expression text (the a448/_OLS2 recipe — DuckDB would otherwise
    inline 2^k copies); Spark iterates over an eagerly checkpointed
    1-row param frame against the checkpointed histogram."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        money_units("o_totalprice", 100).alias("x")
    )
    rng = spend.agg(
        F.min("x").cast("bigint").alias("lo"),
        F.max("x").cast("bigint").alias("hi"),
    )
    g = _GMM_BINS
    hist = (
        spend.crossJoin(F.broadcast(rng))
        .groupBy(
            F.least(
                F.lit(g - 1),
                F.expr(f"((x - lo) * {g}) div (hi - lo + 1)"),
            ).alias("xg")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    mom = hist.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("xg")).cast("bigint").alias("sx"),
        F.sum(F.col("cnt") * F.col("xg") * F.col("xg"))
        .cast("bigint").alias("sxx"),
    )
    sd0 = F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    params = mom.select(
        F.lit(0.5).cast("double").alias("pi1"),
        F.lit(g / 4.0).alias("mu1"),
        F.lit(g * 3.0 / 4.0).alias("mu2"),
        sd0.alias("s1"),
        sd0.alias("s2"),
    ).localCheckpoint(eager=True)
    for _ in range(_GMM_ITERS):
        r1 = (
            "(pi1 * EXP(-(xg - mu1) * (xg - mu1)"
            " / (2.0 * s1 * s1)) / s1)"
        )
        r2 = (
            "((1.0 - pi1) * EXP(-(xg - mu2) * (xg - mu2)"
            " / (2.0 * s2 * s2)) / s2)"
        )
        est = hist.crossJoin(F.broadcast(params)).select(
            "xg",
            "cnt",
            F.expr(
                f"CAST(ROUND({r1} / ({r1} + {r2}) * 1000000.0, 0)"
                " AS BIGINT)"
            ).alias("rfp"),
        )
        c, rfp, xg = F.col("cnt"), F.col("rfp"), F.col("xg")
        anti = F.lit(1000000) - rfp
        params = est.agg(
            (
                F.sum(c * rfp).cast("double")
                / (F.sum(c) * 1000000)
            ).alias("pi1"),
            (
                F.sum(c * rfp * xg) * F.lit(1.0) / F.sum(c * rfp)
            ).alias("mu1"),
            (
                F.sum(c * anti * xg) * F.lit(1.0) / F.sum(c * anti)
            ).alias("mu2"),
            F.sqrt(
                F.greatest(
                    F.sum(c * rfp * xg * xg) * F.lit(1.0)
                    / F.sum(c * rfp)
                    - (F.sum(c * rfp * xg) * F.lit(1.0) / F.sum(c * rfp))
                    * (F.sum(c * rfp * xg) * F.lit(1.0) / F.sum(c * rfp)),
                    F.lit(0.25).cast("double"),
                )
            ).alias("s1"),
            F.sqrt(
                F.greatest(
                    F.sum(c * anti * xg * xg) * F.lit(1.0)
                    / F.sum(c * anti)
                    - (F.sum(c * anti * xg) * F.lit(1.0) / F.sum(c * anti))
                    * (F.sum(c * anti * xg) * F.lit(1.0) / F.sum(c * anti)),
                    F.lit(0.25).cast("double"),
                )
            ).alias("s2"),
        ).select("pi1", "mu1", "mu2", "s1", "s2").localCheckpoint(
            eager=True
        )
    return params.select(
        F.lit(_GMM_ITERS).cast("bigint").alias("n_iters"),
        F.round("pi1", 6).alias("pi1_r"),
        F.round("mu1", 6).alias("mu1_grid_r"),
        F.round("s1", 6).alias("sigma1_grid_r"),
        F.round("mu2", 6).alias("mu2_grid_r"),
        F.round("s2", 6).alias("sigma2_grid_r"),
    )


@query(
    "a086_tost_equivalence",
    oracle=f"""
WITH per_user AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), grp AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s, CAST(SUM(y * y) AS BIGINT) AS ss
  FROM per_user GROUP BY arm
), wide AS (
  SELECT
    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
    MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END) AS m1,
    MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END) AS m0,
    MAX(CASE WHEN arm = 1 THEN
        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) END)
      AS v1,
    MAX(CASE WHEN arm = 0 THEN
        (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) END)
      AS v0
  FROM grp
), fit AS (
  SELECT n1, n0, m1, m0,
         SQRT(v1 / n1 + v0 / n0) AS se,
         0.2 * SQRT(((n1 - 1) * v1 + (n0 - 1) * v0) / (n1 + n0 - 2))
           AS delta
  FROM wide
), ts AS (
  SELECT n1, n0, m1, m0, se, delta,
         ((m1 - m0) + delta) / se AS t_lower,
         (delta - (m1 - m0)) / se AS t_upper
  FROM fit
)
SELECT n1, n0,
       round((m1 - m0) / 100.0, 6) AS diff_dollars_r,
       round(delta / 100.0, 6) AS margin_dollars_r,
       round(t_lower, 6) AS t_lower_r,
       round(t_upper, 6) AS t_upper_r,
       round(1.0 - {_phi("t_lower")}, 6) AS p_lower_r,
       round(1.0 - {_phi("t_upper")}, 6) AS p_upper_r,
       CASE WHEN 1.0 - {_phi("t_lower")} < 0.05
             AND 1.0 - {_phi("t_upper")} < 0.05
            THEN 1 ELSE 0 END AS equivalent
FROM ts
""",
)
def a086_tost_equivalence(spark, sf_dir):
    """TOST equivalence test (two one-sided tests) for per-user
    purchase revenue between the parity arms: rejecting BOTH
    H₀: d ≤ −δ and H₀: d ≥ +δ at α=0.05 establishes equivalence
    within δ = 0.2 pooled SD — the A/A-style check a significance
    test cannot give you (failing to reject ≠ equivalent). Exact
    cents moments per arm; Welch SE; normal-approximation p's through
    the shared A&S Φ text on identical doubles. At 100 TB: one
    filtered user fold to 2 rows."""
    ev = table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(money("value")).cast("bigint").alias("y"))
        .select((F.col("user_id") % 2).cast("bigint").alias("arm"), "y")
    )
    grp = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    pick = lambda a, e: F.max(F.when(F.col("arm") == a, e))  # noqa: E731
    wide = grp.agg(
        pick(1, F.col("n")).alias("n1"),
        pick(0, F.col("n")).alias("n0"),
        pick(1, mean).alias("m1"),
        pick(0, mean).alias("m0"),
        pick(1, var).alias("v1"),
        pick(0, var).alias("v0"),
    )
    fit = wide.select(
        "n1",
        "n0",
        "m1",
        "m0",
        F.sqrt(
            F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")
        ).alias("se"),
        (
            0.2
            * F.sqrt(
                (
                    (F.col("n1") - 1) * F.col("v1")
                    + (F.col("n0") - 1) * F.col("v0")
                )
                / (F.col("n1") + F.col("n0") - 2)
            )
        ).alias("delta"),
    )
    ts = fit.select(
        "n1",
        "n0",
        "m1",
        "m0",
        "se",
        "delta",
        (((F.col("m1") - F.col("m0")) + F.col("delta")) / F.col("se"))
        .alias("t_lower"),
        ((F.col("delta") - (F.col("m1") - F.col("m0"))) / F.col("se"))
        .alias("t_upper"),
    )
    p_lo = F.expr(f"1.0 - {_phi('t_lower')}")
    p_hi = F.expr(f"1.0 - {_phi('t_upper')}")
    return ts.select(
        "n1",
        "n0",
        F.round((F.col("m1") - F.col("m0")) / 100.0, 6)
        .alias("diff_dollars_r"),
        F.round(F.col("delta") / 100.0, 6).alias("margin_dollars_r"),
        F.round("t_lower", 6).alias("t_lower_r"),
        F.round("t_upper", 6).alias("t_upper_r"),
        F.round(p_lo, 6).alias("p_lower_r"),
        F.round(p_hi, 6).alias("p_upper_r"),
        F.when((p_lo < 0.05) & (p_hi < 0.05), 1).otherwise(0)
        .alias("equivalent"),
    )


_HB_BINS = 64


@query(
    "a087_hellinger_bhattacharyya",
    oracle=f"""
WITH spend AS (
  SELECT c.c_nationkey % 2 AS grp,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey
), rng AS (
  SELECT CAST(MIN(x) AS BIGINT) AS lo, CAST(MAX(x) AS BIGINT) AS hi
  FROM spend
), binned AS (
  SELECT s.grp,
         LEAST({_HB_BINS - 1},
               ((s.x - r.lo) * {_HB_BINS}) // (r.hi - r.lo + 1)) AS b
  FROM spend s CROSS JOIN rng r
), cells AS (
  SELECT b,
         CAST(COALESCE(SUM(CASE WHEN grp = 0 THEN 1 END), 0) AS BIGINT)
           AS c0,
         CAST(COALESCE(SUM(CASE WHEN grp = 1 THEN 1 END), 0) AS BIGINT)
           AS c1
  FROM binned GROUP BY b
), terms AS (
  SELECT b, c0, c1,
         CAST(ROUND(SQRT(CAST(c0 * c1 AS DOUBLE)) * 1000000.0, 0)
              AS BIGINT) AS rt_fp
  FROM cells
), agg AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(rt_fp) AS BIGINT) AS srt,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM terms
)
SELECT n0, n1, n_bins,
       round(CAST(srt AS DOUBLE) / 1000000.0
             / SQRT(CAST(n0 AS DOUBLE) * n1), 6) AS bc_r,
       round(SQRT(GREATEST(1.0 - CAST(srt AS DOUBLE) / 1000000.0
                           / SQRT(CAST(n0 AS DOUBLE) * n1),
                           CAST(0.0 AS DOUBLE))), 6) AS hellinger_r,
       round(-ln(CAST(srt AS DOUBLE) / 1000000.0
                 / SQRT(CAST(n0 AS DOUBLE) * n1)), 6)
         AS bhattacharyya_dist_r
FROM agg
""",
)
def a087_hellinger_bhattacharyya(spark, sf_dir):
    """Hellinger distance and Bhattacharyya coefficient/distance
    between the two nation-parity spend distributions over a shared
    scale-free 64-bin value grid: BC = Σ√(p·q) = Σ√(c0·c1)/√(n0·n1)
    where each per-bin √(c0·c1) runs on an exact integer product and
    is micro-quantized BEFORE the cross-bin sum (integer sums are
    order-free; a raw double Σ would be at the mercy of aggregation
    order), then H = √(1−BC) clamped at 0 and D_B = −ln BC run once
    on the 1-row readout. At 100 TB: one fold, one bounded histogram."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            money_units("o_totalprice", 100).alias("x")
        )
        .select((F.col("c_nationkey") % 2).alias("grp"), "x")
        .localCheckpoint(eager=False)
    )
    rng = spend.agg(
        F.min("x").cast("bigint").alias("lo"),
        F.max("x").cast("bigint").alias("hi"),
    )
    b = _HB_BINS
    binned = spend.crossJoin(F.broadcast(rng)).select(
        "grp",
        F.least(
            F.lit(b - 1), F.expr(f"((x - lo) * {b}) div (hi - lo + 1)")
        ).alias("b"),
    )
    cells = binned.groupBy("b").agg(
        F.coalesce(
            F.sum(F.when(F.col("grp") == 0, 1)), F.lit(0)
        ).cast("bigint").alias("c0"),
        F.coalesce(
            F.sum(F.when(F.col("grp") == 1, 1)), F.lit(0)
        ).cast("bigint").alias("c1"),
    )
    terms = cells.select(
        "c0",
        "c1",
        money(F.sqrt((F.col("c0") * F.col("c1")).cast("double")), 6).alias("rt_fp"),
    )
    agg = terms.agg(
        F.sum("c0").cast("bigint").alias("n0"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("rt_fp").cast("bigint").alias("srt"),
        F.count("*").cast("bigint").alias("n_bins"),
    )
    bc = (
        F.col("srt").cast("double") / 1e6
        / F.sqrt(F.col("n0").cast("double") * F.col("n1"))
    )
    return agg.select(
        "n0",
        "n1",
        "n_bins",
        F.round(bc, 6).alias("bc_r"),
        F.round(
            F.sqrt(F.greatest(1.0 - bc, F.lit(0.0).cast("double"))), 6
        ).alias("hellinger_r"),
        F.round(-F.log(bc), 6).alias("bhattacharyya_dist_r"),
    )


@query(
    "a088_negbin_overdispersion",
    oracle="""
WITH days AS (
  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                INTERVAL 1 DAY)) AS d
), users AS (
  SELECT DISTINCT user_id FROM events
), grid AS (
  SELECT u.user_id, CAST(dy.d AS DATE) AS d
  FROM users u CROSS JOIN days dy
), clicks AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS DATE)
), cells AS (
  SELECT CAST(COALESCE(c.k, 0) AS BIGINT) AS k
  FROM grid g LEFT JOIN clicks c
    ON c.user_id = g.user_id AND c.d = g.d
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(k) AS BIGINT) AS s,
         CAST(SUM(k * k) AS BIGINT) AS ss
  FROM cells
)
SELECT n,
       round(CAST(s AS DOUBLE) / n, 6) AS mean_r,
       round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1),
             6) AS var_r,
       round(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
             / (CAST(s AS DOUBLE) / n), 6) AS dispersion_r,
       round((n - 1)
             * ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
             / (CAST(s AS DOUBLE) / n), 6) AS poisson_chi2_r,
       round((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
             / (((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1))
                - CAST(s AS DOUBLE) / n), 6) AS nb_r_r,
       round((CAST(s AS DOUBLE) / n)
             / ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)),
             6) AS nb_p_r
FROM m
""",
)
def a088_negbin_overdispersion(spark, sf_dir):
    """Overdispersion diagnosis + negative-binomial method-of-moments
    fit for per-user daily click counts on the FULL user×day grid
    (zero days included via a calendar cross-join — dropping zeros is
    the classic dispersion-estimate bug): dispersion index s²/x̄, the
    Poisson χ² dispersion statistic (n−1)s²/x̄, and the NB MoM r̂ =
    x̄²/(s²−x̄), p̂ = x̄/s². All from one exact BIGINT count fold;
    every readout is a terminal double. The calendar table is a
    30-row literal series and users fold first, so the grid is
    users×30, never events×30. At 100 TB: one filtered fold + one
    bounded cross join."""
    ev = table(spark, sf_dir, "events")
    days = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30',"
        " INTERVAL 1 DAY)) AS d"
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(days))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    cells = grid.join(clicks, ["user_id", "d"], "left").select(
        F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("k")
    )
    m = cells.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    return m.select(
        "n",
        F.round(mean, 6).alias("mean_r"),
        F.round(var, 6).alias("var_r"),
        F.round(var / mean, 6).alias("dispersion_r"),
        F.round((F.col("n") - 1) * var / mean, 6)
        .alias("poisson_chi2_r"),
        F.round(mean * mean / (var - mean), 6).alias("nb_r_r"),
        F.round(mean / var, 6).alias("nb_p_r"),
    )


@query(
    "a089_stratified_efficiency",
    oracle="""
WITH obs AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS h,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), strata AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM obs GROUP BY h
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
         CAST(SUM(ss) AS BIGINT) AS sst,
         CAST(COUNT(*) AS BIGINT) AS n_strata
  FROM strata
), parts AS (
  SELECT t.nt, t.st, t.sst, t.n_strata,
         SUM((CAST(st2.n AS DOUBLE) / t.nt)
             * ((CAST(st2.ss AS DOUBLE)
                 - CAST(st2.s AS DOUBLE) * st2.s / st2.n)
                / (st2.n - 1))
             / st2.n * (CAST(st2.n AS DOUBLE) / t.nt)) AS v_strat
  FROM strata st2 CROSS JOIN tot t
  GROUP BY t.nt, t.st, t.sst, t.n_strata
)
SELECT n_strata, nt AS n_obs,
       round(CAST(st AS DOUBLE) / nt, 6) AS mean_r,
       round(((CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / nt)
              / (nt - 1)) / nt, 6) AS v_srs_r,
       round(v_strat, 6) AS v_strat_r,
       round((((CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / nt)
               / (nt - 1)) / nt) / v_strat, 6) AS efficiency_gain_r
FROM parts
""",
)
def a089_stratified_efficiency(spark, sf_dir):
    """Design-based efficiency of proportional stratification by
    nation for estimating mean order value: V_strat = Σ W_h²·s_h²/n_h
    under proportional allocation vs the SRS variance s²/n, and their
    ratio — the survey-sampling answer to "is stratifying on this key
    worth it". Exact dollar moments per stratum; one 25-row summary;
    every variance is a terminal double of exact integers. At 100 TB:
    one orders fold keyed by nation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    obs = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").cast("bigint").alias("h"),
        F.round("o_totalprice", 0).cast("bigint").alias("v"),
    )
    strata = obs.groupBy("h").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    ).localCheckpoint(eager=False)
    tot = strata.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.sum("ss").cast("bigint").alias("sst"),
        F.count("*").cast("bigint").alias("n_strata"),
    )
    sh2 = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    parts = (
        strata.crossJoin(F.broadcast(tot))
        .groupBy("nt", "st", "sst", "n_strata")
        .agg(
            F.sum(
                (F.col("n").cast("double") / F.col("nt"))
                * sh2 / F.col("n")
                * (F.col("n").cast("double") / F.col("nt"))
            ).alias("v_strat")
        )
    )
    v_srs = (
        (
            F.col("sst").cast("double")
            - F.col("st").cast("double") * F.col("st") / F.col("nt")
        )
        / (F.col("nt") - 1)
    ) / F.col("nt")
    return parts.select(
        "n_strata",
        F.col("nt").alias("n_obs"),
        F.round(F.col("st").cast("double") / F.col("nt"), 6)
        .alias("mean_r"),
        F.round(v_srs, 6).alias("v_srs_r"),
        F.round("v_strat", 6).alias("v_strat_r"),
        F.round(v_srs / F.col("v_strat"), 6).alias("efficiency_gain_r"),
    )


@query(
    "a090_icc_design_effect",
    oracle="""
WITH obs AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS g,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM obs GROUP BY g
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * s / n, 0) AS BIGINT))
              AS BIGINT) AS sq_grp,
         CAST(SUM(ss) AS BIGINT) AS sst
  FROM grp
), anova AS (
  SELECT nt, k,
         (CAST(sq_grp AS DOUBLE) - CAST(st AS DOUBLE) * st / nt)
           / (k - 1) AS msb,
         (CAST(sst AS DOUBLE) - sq_grp) / (nt - k) AS msw,
         CAST(nt AS DOUBLE) / k AS mbar
  FROM tot
)
SELECT nt AS n_obs, k AS n_clusters,
       round(msb / 1000000000.0, 6) AS msb_bn_r,
       round(msw / 1000000000.0, 6) AS msw_bn_r,
       round((msb - msw) / (msb + (mbar - 1.0) * msw), 6) AS icc_r,
       round(1.0 + (mbar - 1.0)
             * ((msb - msw) / (msb + (mbar - 1.0) * msw)), 6) AS deff_r
FROM anova
""",
)
def a090_icc_design_effect(spark, sf_dir):
    """Intraclass correlation (one-way ANOVA method of moments) and
    Kish design effect DEFF = 1 + (m̄−1)·ICC for order values
    clustered by customer nation — the number that converts a
    cluster-sampled n into its effective sample size. MSB/MSW come
    from exact integer moments (group squares via Σs²/n in double on
    exact BIGINTs), m̄ = n/k. One fold, 25-row summary, terminal
    doubles. At 100 TB: one orders shuffle on the nation key."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    obs = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.round("o_totalprice", 0).cast("bigint").alias("v"),
    )
    grp = obs.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("ss"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s") / F.col("n"), 0
            ).cast("bigint")
        ).cast("bigint").alias("sq_grp"),
        F.sum("ss").cast("bigint").alias("sst"),
    )
    anova = tot.select(
        "nt",
        "k",
        (
            (F.col("sq_grp").cast("double")
             - F.col("st").cast("double") * F.col("st") / F.col("nt"))
            / (F.col("k") - 1)
        ).alias("msb"),
        (
            (F.col("sst").cast("double") - F.col("sq_grp"))
            / (F.col("nt") - F.col("k"))
        ).alias("msw"),
        (F.col("nt").cast("double") / F.col("k")).alias("mbar"),
    )
    icc = (F.col("msb") - F.col("msw")) / (
        F.col("msb") + (F.col("mbar") - 1.0) * F.col("msw")
    )
    return anova.select(
        F.col("nt").alias("n_obs"),
        F.col("k").alias("n_clusters"),
        F.round(F.col("msb") / 1000000000.0, 6).alias("msb_bn_r"),
        F.round(F.col("msw") / 1000000000.0, 6).alias("msw_bn_r"),
        F.round(icc, 6).alias("icc_r"),
        F.round(1.0 + (F.col("mbar") - 1.0) * icc, 6).alias("deff_r"),
    )


@query(
    "a091_price_elasticity_within",
    oracle="""
WITH lines AS (
  SELECT CAST(l_partkey AS BIGINT) AS part,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice / l_quantity, 0) AS BIGINT) AS p
  FROM lineitem WHERE l_quantity >= 1
), pv AS (
  SELECT p, CAST(ROUND(ln(CAST(p AS DOUBLE)) * 10000.0, 0) AS BIGINT)
           AS lnp
  FROM (SELECT DISTINCT p FROM lines WHERE p >= 1)
), qv AS (
  SELECT q, CAST(ROUND(ln(CAST(q AS DOUBLE)) * 10000.0, 0) AS BIGINT)
           AS lnq
  FROM (SELECT DISTINCT q FROM lines)
), obs AS (
  SELECT l.part, pv.lnp AS x, qv.lnq AS y
  FROM lines l JOIN pv ON pv.p = l.p JOIN qv ON qv.q = l.q
), per_part AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(ROUND(CAST(SUM(x) AS DOUBLE) * SUM(y) / COUNT(*), 0)
              AS BIGINT) AS cross_term,
         CAST(ROUND(CAST(SUM(x) AS DOUBLE) * SUM(x) / COUNT(*), 0)
              AS BIGINT) AS sq_term
  FROM obs GROUP BY part
), moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM obs
), fe AS (
  SELECT CAST(SUM(cross_term) AS BIGINT) AS sum_cross,
         CAST(SUM(sq_term) AS BIGINT) AS sum_sq,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM per_part
)
SELECT m.n AS n_lines, f.n_parts,
       round((CAST(m.sxy AS DOUBLE) - f.sum_cross)
             / (CAST(m.sxx AS DOUBLE) - f.sum_sq), 6)
         AS elasticity_within_r,
       round((CAST(m.sxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sy / m.n)
             / (CAST(m.sxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * m.sx / m.n),
             6) AS elasticity_pooled_r
FROM moments m CROSS JOIN fe f
""",
)
def a091_price_elasticity_within(spark, sf_dir):
    """Price elasticity of demand from the within-part (fixed-
    effects) log-log estimator: ε = Σ_w(x−x̄_p)(y−ȳ_p) /
    Σ_w(x−x̄_p)², which controls for per-part level differences that
    bias the pooled slope (reported alongside for the contrast). ln
    runs once per DISTINCT VALUE — quantity (≤ ~50 values) and unit
    price dollars (range-bounded) — quantized at 1e4 and joined back,
    so per-line x·y products are exact BIGINTs with sf1 headroom; the
    per-part x̄ terms ΣxΣy/n are rounded to integer units BEFORE the
    cross-part sum (order-free). At 100 TB: one fold per value table,
    one line-level join pipeline, two summary folds."""
    li = table(spark, sf_dir, "lineitem")
    lines = li.filter(F.col("l_quantity") >= 1).select(
        F.col("l_partkey").cast("bigint").alias("part"),
        F.round("l_quantity", 0).cast("bigint").alias("q"),
        F.round(
            F.col("l_extendedprice") / F.col("l_quantity"), 0
        ).cast("bigint").alias("p"),
    ).localCheckpoint(eager=False)
    pv = (
        lines.filter(F.col("p") >= 1)
        .select("p")
        .distinct()
        .select(
            "p",
            money(F.log(F.col("p").cast("double")), 4).alias("lnp"),
        )
    )
    qv = (
        lines.select("q")
        .distinct()
        .select(
            "q",
            money(F.log(F.col("q").cast("double")), 4).alias("lnq"),
        )
    )
    obs = (
        lines.join(pv, "p")
        .join(F.broadcast(qv), "q")
        .select(
            "part",
            F.col("lnp").alias("x"),
            F.col("lnq").alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    per_part = obs.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum("x").cast("double") * F.sum("y") / F.count("*"), 0
        ).cast("bigint").alias("cross_term"),
        F.round(
            F.sum("x").cast("double") * F.sum("x") / F.count("*"), 0
        ).cast("bigint").alias("sq_term"),
    )
    moments = obs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    fe = per_part.agg(
        F.sum("cross_term").cast("bigint").alias("sum_cross"),
        F.sum("sq_term").cast("bigint").alias("sum_sq"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    return moments.crossJoin(F.broadcast(fe)).select(
        F.col("n").alias("n_lines"),
        "n_parts",
        F.round(
            (F.col("sxy").cast("double") - F.col("sum_cross"))
            / (F.col("sxx").cast("double") - F.col("sum_sq")),
            6,
        ).alias("elasticity_within_r"),
        F.round(
            (
                F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy") / F.col("n")
            )
            / (
                F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx") / F.col("n")
            ),
            6,
        ).alias("elasticity_pooled_r"),
    )


@query(
    "a092_source_overlap_matrix",
    oracle="""
WITH sh AS (
  SELECT source, doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 4),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 4), ' ')
         )) AS shingles
  FROM documents
), src_sh AS (
  SELECT DISTINCT source, unnest(shingles) AS shingle FROM sh
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM src_sh GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM src_sh a JOIN src_sh b
    ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b, p.inter,
       sa.sz AS size_a, sb.sz AS size_b,
       round(CAST(p.inter AS DOUBLE) / (sa.sz + sb.sz - p.inter), 6)
         AS jaccard_r,
       round(CAST(p.inter AS DOUBLE) / LEAST(sa.sz, sb.sz), 6)
         AS containment_r
FROM pairs p
JOIN sizes sa ON sa.source = p.src_a
JOIN sizes sb ON sb.source = p.src_b
ORDER BY jaccard_r DESC, src_a ASC, src_b ASC
LIMIT 15
""",
)
def a092_source_overlap_matrix(spark, sf_dir):
    """Cross-source 5-gram contamination matrix — the corpus-curation
    readout that says WHICH ingest sources duplicate each other (the
    doc-level near-dup family answers which documents): per-source
    distinct shingle sets, pairwise intersection via an equi-join on
    the shingle value (posting lists are bounded by the SOURCE
    CATALOG size, so the pair fan-out per shingle is ≤ C(sources,2)
    regardless of corpus size), Jaccard + the min-side containment
    that catches a small source swallowed by a big one. Top 15 pairs,
    deterministic tie-break. At 100 TB: one explode + two shuffles on
    (source, shingle) / shingle."""
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    sh = d.select(
        "source", word_shingles("text", 5).alias("shingles")
    )
    src_sh = (
        sh.select("source", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = src_sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    a = src_sh.select(F.col("source").alias("src_a"), "shingle")
    b = src_sh.select(F.col("source").alias("src_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("size_b"))
    return (
        pairs.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            "size_a",
            "size_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ).alias("jaccard_r"),
            F.round(
                F.col("inter").cast("double")
                / F.least(F.col("size_a"), F.col("size_b")),
                6,
            ).alias("containment_r"),
        )
        .orderBy(
            F.col("jaccard_r").desc(),
            F.col("src_a").asc(),
            F.col("src_b").asc(),
        )
        .limit(15)
    )


@query(
    "a093_source_redundancy_audit",
    oracle="""
WITH sh AS (
  SELECT source, doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 4),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 4), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT source, doc_id, unnest(shingles) AS shingle FROM sh
), per_source AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS gram_instances,
         CAST(COUNT(DISTINCT shingle) AS BIGINT) AS distinct_grams
  FROM ex GROUP BY source
)
SELECT source, n_docs, gram_instances, distinct_grams,
       round(1.0 - CAST(distinct_grams AS DOUBLE) / gram_instances, 6)
         AS redundancy_r,
       round(CAST(gram_instances AS DOUBLE) / n_docs, 6)
         AS grams_per_doc_r
FROM per_source
ORDER BY redundancy_r DESC, source ASC
""",
)
def a093_source_redundancy_audit(spark, sf_dir):
    """Intra-source redundancy audit: for each ingest source, the
    fraction of per-doc-distinct 5-gram instances that are repeats of
    grams already seen in the SAME source — the number that predicts
    how much exact/near dedup will shrink each source before you pay
    to run it (1 − distinct/instances). Count-distinct folds ride the
    (source, shingle) shuffle; all ratios are exact-count terminal
    doubles. At 100 TB: one explode, one two-level aggregate — the
    same shape Spark's partial-aggregate pipeline optimizes best."""
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    ex = (
        d.select(
            "source",
            "doc_id",
            F.explode_outer(word_shingles("text", 5)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    per_source = ex.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("gram_instances"),
        F.countDistinct("shingle").cast("bigint").alias("distinct_grams"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "gram_instances",
        "distinct_grams",
        F.round(
            1.0
            - F.col("distinct_grams").cast("double")
            / F.col("gram_instances"),
            6,
        ).alias("redundancy_r"),
        F.round(
            F.col("gram_instances").cast("double") / F.col("n_docs"), 6
        ).alias("grams_per_doc_r"),
    ).orderBy(F.col("redundancy_r").desc(), F.col("source").asc())


@query(
    "a094_morans_i_geary_c",
    oracle=f"""
WITH off(dx, dy) AS (
  VALUES (-1, 0), (1, 0), (0, -1), (0, 1)
), xy AS (
  SELECT CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), rng AS (
  SELECT CAST(MIN(x) AS BIGINT) AS xlo, CAST(MAX(x) AS BIGINT) AS xhi,
         CAST(MIN(y) AS BIGINT) AS ylo, CAST(MAX(y) AS BIGINT) AS yhi
  FROM xy
), allcells AS (
  SELECT a.cx, b.cy FROM
    (SELECT unnest(generate_series(0, {_DBSCAN_GRID - 1})) AS cx) a
  CROSS JOIN
    (SELECT unnest(generate_series(0, {_DBSCAN_GRID - 1})) AS cy) b
), occ AS (
  SELECT LEAST({_DBSCAN_GRID - 1},
               ((p.x - r.xlo) * {_DBSCAN_GRID}) // (r.xhi - r.xlo + 1))
           AS cx,
         LEAST({_DBSCAN_GRID - 1},
               ((p.y - r.ylo) * {_DBSCAN_GRID}) // (r.yhi - r.ylo + 1))
           AS cy,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM xy p CROSS JOIN rng r GROUP BY 1, 2
), grid AS (
  SELECT a.cx, a.cy, CAST(COALESCE(o.cnt, 0) AS BIGINT) AS cnt
  FROM allcells a LEFT JOIN occ o ON o.cx = a.cx AND o.cy = a.cy
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(cnt) AS BIGINT) AS s
  FROM grid
), z AS (
  SELECT g.cx, g.cy,
         CAST(ROUND((CAST(g.cnt AS DOUBLE) * t.nc - t.s) * 100.0 / t.nc,
                    0) AS BIGINT) AS zc,
         t.nc
  FROM grid g CROSS JOIN tot t
), pairs AS (
  SELECT a.zc AS za, b.zc AS zb
  FROM z a JOIN off o ON TRUE
  JOIN z b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
), sums AS (
  SELECT (SELECT CAST(SUM(za * zb) AS BIGINT) FROM pairs) AS cross_sum,
         (SELECT CAST(SUM((za - zb) * (za - zb)) AS BIGINT) FROM pairs)
           AS diff_sum,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS w,
         (SELECT CAST(SUM(zc * zc) AS BIGINT) FROM z) AS zz,
         (SELECT MAX(nc) FROM z) AS nc
)
SELECT nc AS n_cells, w AS n_weights,
       round((CAST(nc AS DOUBLE) / w) * cross_sum / zz, 6) AS morans_i_r,
       round((CAST(nc AS DOUBLE) - 1.0) / (2.0 * w) * diff_sum / zz, 6)
         AS gearys_c_r,
       round(-1.0 / (CAST(nc AS DOUBLE) - 1.0), 6) AS expected_i_r
FROM sums
""",
)
def a094_morans_i_geary_c(spark, sf_dir):
    """Moran's I and Geary's C spatial autocorrelation of customer
    density over the 40×40 (balance, spend) value grid with rook
    adjacency — the spatial-stats pair that says whether dense cells
    CLUSTER (I > E[I] = −1/(n−1), C < 1) or repel. The full 1600-cell
    lattice (zeros included — dropping empty cells biases both
    statistics) is a literal 40×40 cross join; deviations are
    centi-quantized BIGINTs (n·cnt − S scaled, headroom to sf1), so
    Σw·z_iz_j, Σw(z_i−z_j)² and Σz² are exact integers; adjacency is
    the constant 4-offset equi-join. At 100 TB: one fold, then
    lattice-sized work. The lattice tail (zero-fill, deviations, rook
    pairs, moment sums) runs DRIVER-SIDE on the collected ≤1600
    occupancy cells (the q249/a448 recipe): every step is exact integer
    arithmetic except the zc deviation, whose one double expression is
    replicated bit-for-bit by functions.exact.round0_half_up; the
    terminal divisions + round(6) stay engine-side on the literal
    moment frame. The former tail was 7 chained lattice-sized Spark
    jobs (grid join, tot, z checkpoint, offset explode, pair join, two
    moment aggregates)."""
    from ..functions.exact import round0_half_up

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100).alias("y")
        )
        .select(
            F.round("c_acctbal", 0).cast("bigint").alias("x"), "y"
        )
        # rng + occ both read xy: one corpus join/groupBy, not two
        .localCheckpoint(eager=False)
    )
    rng = xy.agg(
        F.min("x").cast("bigint").alias("xlo"),
        F.max("x").cast("bigint").alias("xhi"),
        F.min("y").cast("bigint").alias("ylo"),
        F.max("y").cast("bigint").alias("yhi"),
    )
    g = _DBSCAN_GRID
    occ = (
        xy.crossJoin(F.broadcast(rng))
        .groupBy(
            F.least(
                F.lit(g - 1),
                F.expr(f"((x - xlo) * {g}) div (xhi - xlo + 1)"),
            ).alias("cx"),
            F.least(
                F.lit(g - 1),
                F.expr(f"((y - ylo) * {g}) div (yhi - ylo + 1)"),
            ).alias("cy"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    # ≤ g² rows by construction (grouped on capped grid keys); the
    # zero-filled lattice, deviations, rook pairs and moment sums run
    # driver-side in exact ints (zc's one double expression replicated
    # by round0_half_up)
    cnt = {(r["cx"], r["cy"]): r["cnt"] for r in occ.collect()}
    nc = g * g
    s = sum(cnt.values())
    zc = {
        (i, j): round0_half_up(
            (float(cnt.get((i, j), 0)) * nc - s) * 100.0 / nc
        )
        for i in range(g)
        for j in range(g)
    }
    cross_sum = diff_sum = w = 0
    for (i, j), za in zc.items():
        for di, dj in ((-1, 0), (1, 0), (0, -1), (0, 1)):
            zb = zc.get((i + di, j + dj))
            if zb is not None:
                cross_sum += za * zb
                diff_sum += (za - zb) * (za - zb)
                w += 1
    zz = sum(v * v for v in zc.values())
    sums = literal_frame(
        spark,
        [(nc, w, cross_sum, diff_sum, zz)],
        "nc bigint, w bigint, cross_sum bigint, diff_sum bigint,"
        " zz bigint",
    )
    ncd = F.col("nc").cast("double")
    return sums.select(
        F.col("nc").alias("n_cells"),
        F.col("w").alias("n_weights"),
        F.round(
            (ncd / F.col("w")) * F.col("cross_sum") / F.col("zz"), 6
        ).alias("morans_i_r"),
        F.round(
            (ncd - 1.0) / (2.0 * F.col("w"))
            * F.col("diff_sum") / F.col("zz"),
            6,
        ).alias("gearys_c_r"),
        F.round(-1.0 / (ncd - 1.0), 6).alias("expected_i_r"),
    )


_DELTA_TOP_WORDS = 30


@query(
    "a095_burrows_delta",
    oracle=f"""
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x != '')) AS w
  FROM documents
), topw AS (
  SELECT w FROM tok GROUP BY w
  ORDER BY COUNT(*) DESC, w ASC LIMIT {_DELTA_TOP_WORDS}
), src_tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY source
), freq AS (
  SELECT s.source, t.w,
         CAST(COALESCE(c.k, 0) AS BIGINT) AS k, s.nt
  FROM src_tot s CROSS JOIN topw t
  LEFT JOIN (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS k
    FROM tok JOIN topw USING (w) GROUP BY source, w
  ) c ON c.source = s.source AND c.w = t.w
), rel AS (
  SELECT source, w,
         CAST(k * 1000000000 // nt AS BIGINT) AS f
  FROM freq
), stats AS (
  SELECT w,
         CAST(SUM(f) AS DOUBLE) / COUNT(*) AS mu,
         SQRT((CAST(SUM(f * f) AS DOUBLE)
               - CAST(SUM(f) AS DOUBLE) * SUM(f) / COUNT(*))
              / (COUNT(*) - 1)) AS sd
  FROM rel GROUP BY w
), zsc AS (
  SELECT r.source, r.w, (r.f - s.mu) / s.sd AS z
  FROM rel r JOIN stats s ON s.w = r.w WHERE s.sd > 0
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(SUM(CAST(ROUND(ABS(a.z - b.z) * 1000000.0, 0) AS BIGINT))
              AS BIGINT) AS sum_fp,
         CAST(COUNT(*) AS BIGINT) AS nw
  FROM zsc a JOIN zsc b ON a.w = b.w AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, nw AS n_words,
       round(CAST(sum_fp AS DOUBLE) / nw / 1000000.0, 6) AS delta_r
FROM pairs
ORDER BY delta_r ASC, src_a ASC, src_b ASC
LIMIT 15
""",
)
def a095_burrows_delta(spark, sf_dir):
    """Burrows' Delta stylometric distance between ingest sources —
    the authorship-attribution measure (mean |z_a − z_b| over the
    top-{_DELTA_TOP_WORDS} words' per-mille frequencies z-scored
    across sources) repurposed as a "same generator?" curation
    signal: near-zero Delta across supposedly independent sources
    flags shared provenance. Frequencies are nano-fixed-point
    INTEGERS (k·1e9 div n_tokens), so the per-word mean/sd moments
    are exact BIGINT sums — never an unordered double AVG — and the
    word-level z's are identical doubles; per-word |Δz| terms are
    micro-quantized before the cross-word fold (order-free). The 15 most-similar pairs. At
    100 TB: one token fold, one {_DELTA_TOP_WORDS}-row broadcast
    lexicon, catalog-sized joins."""
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    tok = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("w"),
    ).localCheckpoint(eager=False)
    topw = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(_DELTA_TOP_WORDS)
        .select("w")
    )
    src_tot = tok.groupBy("source").agg(
        F.count("*").cast("bigint").alias("nt")
    )
    counts = (
        tok.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    freq = (
        src_tot.crossJoin(F.broadcast(topw))
        .join(counts, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "CAST(coalesce(k, 0) * 1000000000 div nt AS BIGINT)"
            ).alias("f"),
        )
    )
    stats = freq.groupBy("w").agg(
        (F.sum("f").cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("f") * F.col("f")).cast("double")
                - F.sum("f").cast("double") * F.sum("f") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sd"),
    )
    zsc = (
        freq.join(stats, "w")
        .filter(F.col("sd") > 0)
        .select(
            "source",
            "w",
            ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"),
        )
        .localCheckpoint(eager=False)
    )
    a = zsc.select("w", F.col("source").alias("src_a"), F.col("z").alias("za"))
    b = zsc.select("w", F.col("source").alias("src_b"), F.col("z").alias("zb"))
    pairs = (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                money(F.abs(F.col("za") - F.col("zb")), 6)
            ).cast("bigint").alias("sum_fp"),
            F.count("*").cast("bigint").alias("nw"),
        )
    )
    return (
        pairs.select(
            "src_a",
            "src_b",
            F.col("nw").alias("n_words"),
            F.round(
                F.col("sum_fp").cast("double") / F.col("nw") / 1e6, 6
            ).alias("delta_r"),
        )
        .orderBy(
            F.col("delta_r").asc(), F.col("src_a").asc(),
            F.col("src_b").asc(),
        )
        .limit(15)
    )


_BACKFILL_WAVE = 10


@query(
    "a096_backfill_planner",
    oracle=f"""
WITH ledger AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM ledger
), calendar AS (
  SELECT CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE)
           AS d
  FROM bounds b
), watermark AS (
  SELECT hi - INTERVAL 14 DAY AS wm FROM bounds
), work AS (
  SELECT c.d,
         CAST(COALESCE(l.n_rows, 0) AS BIGINT) AS n_rows,
         CASE WHEN l.d IS NULL THEN 'missing'
              WHEN c.d > w.wm THEN 'stale'
              ELSE 'done' END AS status
  FROM calendar c
  LEFT JOIN ledger l ON l.d = c.d
  CROSS JOIN watermark w
), todo AS (
  SELECT d, n_rows, status,
         CAST((ROW_NUMBER() OVER (ORDER BY d ASC) - 1)
              // {_BACKFILL_WAVE} AS BIGINT) AS wave
  FROM work WHERE status != 'done'
)
SELECT wave,
       CAST(COUNT(*) AS BIGINT) AS n_partitions,
       MIN(d) AS first_date, MAX(d) AS max_date,
       CAST(SUM(CASE WHEN status = 'missing' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_missing,
       CAST(SUM(n_rows) AS BIGINT) AS est_rows
FROM todo
GROUP BY wave
ORDER BY wave
""",
)
def a096_backfill_planner(spark, sf_dir):
    """Backfill work planner over the daily partition ledger: derive
    the full calendar between the ledger bounds, classify each day as
    done / stale (inside the 14-day reprocess horizon) / missing
    (calendar gap with no data — the failure a max-date watermark
    silently skips), and batch the to-do set into ordered waves of
    {_BACKFILL_WAVE} with per-wave partition counts and estimated row
    volume. The calendar is a generate_series off a 1-row bounds
    aggregate; everything downstream is calendar-sized. At 100 TB:
    one orders fold keyed by date, then O(days)."""
    o = table(spark, sf_dir, "orders")
    ledger = daily_orders(
        o, F.count("*").cast("bigint").alias("n_rows")
    ).localCheckpoint(eager=False)
    bounds = ledger.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    calendar = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    work = (
        calendar.join(
            ledger.select(F.col("d").alias("ld"), "n_rows"),
            calendar.d == F.col("ld"),
            "left",
        )
        .crossJoin(
            F.broadcast(
                bounds.select(
                    F.date_sub(F.col("hi"), 14).alias("wm")
                )
            )
        )
        .select(
            "d",
            F.coalesce(F.col("n_rows"), F.lit(0))
            .cast("bigint").alias("n_rows"),
            F.when(F.col("ld").isNull(), "missing")
            .when(F.col("d") > F.col("wm"), "stale")
            .otherwise("done").alias("status"),
        )
    )
    todo = work.filter(F.col("status") != "done").select(
        "d",
        "n_rows",
        "status",
        F.expr(
            f"CAST((ROW_NUMBER() OVER (ORDER BY d ASC) - 1)"
            f" div {_BACKFILL_WAVE} AS BIGINT)"
        ).alias("wave"),
    )
    return (
        todo.groupBy("wave")
        .agg(
            F.count("*").cast("bigint").alias("n_partitions"),
            F.min("d").alias("first_date"),
            F.max("d").alias("max_date"),
            F.sum(
                F.when(F.col("status") == "missing", 1).otherwise(0)
            ).cast("bigint").alias("n_missing"),
            F.sum("n_rows").cast("bigint").alias("est_rows"),
        )
        .orderBy("wave")
    )


@query(
    "a097_taylor_power_law",
    oracle="""
WITH bounds AS (
  SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
         MAX(CAST(o_orderdate AS DATE)) AS hi
  FROM orders
), calendar AS (
  SELECT CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE)
           AS d
  FROM bounds b
), nations AS (
  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS g FROM customer
), counts AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS g,
         CAST(o.o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), grid AS (
  SELECT n.g, cal.d, CAST(COALESCE(c.k, 0) AS BIGINT) AS k
  FROM nations n CROSS JOIN calendar cal
  LEFT JOIN counts c ON c.g = n.g AND c.d = cal.d
), mv AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(k) AS BIGINT) AS s, CAST(SUM(k * k) AS BIGINT) AS ss
  FROM grid GROUP BY g
), pts AS (
  SELECT g,
         CAST(ROUND(ln(CAST(s AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT)
           AS x_fp,
         CAST(ROUND(ln((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                       / (n - 1)) * 1000000.0, 0) AS BIGINT) AS y_fp
  FROM mv WHERE s > 0 AND ss * n > s * s
), ols AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_fp) AS BIGINT) AS sx, CAST(SUM(y_fp) AS BIGINT) AS sy,
         CAST(SUM(x_fp * x_fp) AS BIGINT) AS sxx,
         CAST(SUM(x_fp * y_fp) AS BIGINT) AS sxy,
         CAST(SUM(y_fp * y_fp) AS BIGINT) AS syy
  FROM pts
)
SELECT n AS n_groups,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6)
         AS taylor_b_r,
       round((CAST(sy AS DOUBLE) / n
              - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                 / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                * (CAST(sx AS DOUBLE) / n)) / 1000000.0, 6)
         AS ln_a_r,
       round(POWER(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2)
             / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)), 6)
         AS r2_r
FROM ols
""",
)
def a097_taylor_power_law(spark, sf_dir):
    """Taylor's power law fit (variance = a·mean^b across groups) for
    per-nation daily order counts — the aggregation-law exponent
    (b→1 Poisson, b→2 clumped) that sizes how partition skew grows
    with volume. Zero days are kept via a calendar×nation closure
    (dropping them inflates both moments); per-group mean/variance
    come from exact BIGINT count moments; the 25 log-log points are
    micro-quantized so the OLS moments are exact integers; slope,
    intercept, and R² are terminal doubles. At 100 TB: one orders
    fold keyed (nation, date), then 25-point work."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    counts = daily_orders(
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o.o_custkey == F.col("c_custkey"),
        ),
        F.count("*").cast("bigint").alias("k"),
        by=(F.col("c_nationkey").cast("bigint").alias("g"),),
    ).localCheckpoint(eager=False)
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    calendar = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    nations = c.select(
        F.col("c_nationkey").cast("bigint").alias("g")
    ).distinct()
    grid = nations.crossJoin(calendar).join(
        counts, ["g", "d"], "left"
    ).select(
        "g", F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("k")
    )
    mv = grid.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("ss"),
    )
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    pts = mv.filter(
        (F.col("s") > 0)
        & (F.col("ss") * F.col("n") > F.col("s") * F.col("s"))
    ).select(
        money(F.log(F.col("s").cast("double") / F.col("n")), 6).alias("x_fp"),
        money(F.log(var), 6).alias("y_fp"),
    )
    ols = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x_fp").cast("bigint").alias("sx"),
        F.sum("y_fp").cast("bigint").alias("sy"),
        F.sum(F.col("x_fp") * F.col("x_fp")).cast("bigint").alias("sxx"),
        F.sum(F.col("x_fp") * F.col("y_fp")).cast("bigint").alias("sxy"),
        F.sum(F.col("y_fp") * F.col("y_fp")).cast("bigint").alias("syy"),
    )
    nd = F.col("n")
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / nd
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / nd
    slope = cxy / cxx
    return ols.select(
        F.col("n").alias("n_groups"),
        F.round(slope, 6).alias("taylor_b_r"),
        F.round(
            (F.col("sy").cast("double") / nd
             - slope * (F.col("sx").cast("double") / nd)) / 1e6,
            6,
        ).alias("ln_a_r"),
        F.round(F.pow(cxy, 2) / (cxx * cyy), 6).alias("r2_r"),
    )


# Wilder RSI smoothing weights (1/14)·(13/14)^k at 1e9 fixed point,
# truncated at 64 ages (tail mass < 1e-2 of a cent at these scales) —
# Python-generated literals embedded in both plans.
_RSI_N = 14
_RSI_K = 64
_RSI_ROWS = [
    (k, int(round((1.0 / _RSI_N) * ((_RSI_N - 1.0) / _RSI_N) ** k * 1e9)))
    for k in range(_RSI_K)
]
_RSI_VALUES = ", ".join(f"({k}, {w})" for k, w in _RSI_ROWS)


@query(
    "a098_ohlc_technical",
    oracle=f"""
WITH w(age, wfp) AS (VALUES {_RSI_VALUES}),
ticks AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(epoch_us(ts) * 4096 + event_id % 4096 AS BIGINT) AS tk,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS px
  FROM events WHERE event_type = 'purchase'
), bars AS (
  SELECT h,
         CAST(arg_min(px, tk) AS BIGINT) AS open,
         CAST(MAX(px) AS BIGINT) AS high,
         CAST(MIN(px) AS BIGINT) AS low,
         CAST(arg_max(px, tk) AS BIGINT) AS close,
         CAST(COUNT(*) AS BIGINT) AS n_ticks
  FROM ticks GROUP BY h
), seq AS (
  SELECT h, open, high, low, close, n_ticks,
         CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS bar,
         CAST(close - LAG(close) OVER (ORDER BY h) AS BIGINT) AS chg
  FROM bars
), rsi AS (
  SELECT s.bar,
         CAST(SUM(CASE WHEN p.chg > 0 THEN p.chg * w.wfp ELSE 0 END)
              AS BIGINT) AS gain_w,
         CAST(SUM(CASE WHEN p.chg < 0 THEN -p.chg * w.wfp ELSE 0 END)
              AS BIGINT) AS loss_w
  FROM seq s JOIN seq p ON p.bar <= s.bar AND p.bar > s.bar - {_RSI_K}
  JOIN w ON w.age = s.bar - p.bar
  WHERE p.chg IS NOT NULL
  GROUP BY s.bar
), boll AS (
  SELECT bar, h, close,
         CAST(SUM(close) OVER (ORDER BY bar
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS s20,
         CAST(SUM(close * close) OVER (ORDER BY bar
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS ss20,
         CAST(COUNT(*) OVER (ORDER BY bar
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n20
  FROM seq
), ind AS (
  SELECT b.bar, b.h, b.close,
         CAST(b.s20 AS DOUBLE) / b.n20 AS ma20,
         SQRT(GREATEST((CAST(b.ss20 AS DOUBLE)
                        - CAST(b.s20 AS DOUBLE) * b.s20 / b.n20) / b.n20,
                       CAST(0.0 AS DOUBLE))) AS sd20,
         r.gain_w, r.loss_w
  FROM boll b JOIN rsi r ON r.bar = b.bar
  WHERE b.n20 = 20
)
SELECT h, close,
       round(100.0 - 100.0 / (1.0 + CAST(gain_w AS DOUBLE)
                                    / NULLIF(loss_w, 0)), 6) AS rsi_r,
       round(ma20 / 100.0, 6) AS ma20_r,
       round((close - ma20 + 2.0 * sd20) / (4.0 * sd20), 6) AS pct_b_r,
       CASE WHEN close > ma20 + 2.0 * sd20 THEN 1
            WHEN close < ma20 - 2.0 * sd20 THEN -1 ELSE 0 END AS breach
FROM ind
ORDER BY h DESC LIMIT 24
""",
)
def a098_ohlc_technical(spark, sf_dir):
    """Hourly OHLC bars over purchase values with an RSI-14
    (Wilder-smoothed via the a063 truncated fixed-point weight-table
    recipe — Σgain·w is an exact BIGINT, no recursion) and Bollinger
    %B + band-breach flags from exact 20-bar rolling cent moments.
    Open/close use arg_min/arg_max on a scalar
    (epoch_us·4096 + event_id%4096) tick key — deterministic even
    under timestamp collisions; the RSI window is an age-bounded
    equi-join (≤64 lagged bars per bar — calendar-bounded, not
    corpus-bounded). Latest 24 bars. At 100 TB: one hour-keyed fold;
    everything downstream is bar-count sized."""
    ev = table(spark, sf_dir, "events")
    ticks = ev.filter(F.col("event_type") == "purchase").select(
        F.date_trunc("hour", "ts").alias("h"),
        F.expr(
            "CAST(unix_micros(ts) * 4096 + event_id % 4096 AS BIGINT)"
        ).alias("tk"),
        money("value").alias("px"),
    )
    bars = ticks.groupBy("h").agg(
        F.expr("CAST(MIN_BY(px, tk) AS BIGINT)").alias("open"),
        F.max("px").cast("bigint").alias("high"),
        F.min("px").cast("bigint").alias("low"),
        F.expr("CAST(MAX_BY(px, tk) AS BIGINT)").alias("close"),
        F.count("*").cast("bigint").alias("n_ticks"),
    )
    wh = Window.orderBy("h")
    seq = bars.select(
        "h",
        "close",
        F.row_number().over(wh).cast("bigint").alias("bar"),
        (F.col("close") - F.lag("close").over(wh))
        .cast("bigint").alias("chg"),
    ).localCheckpoint(eager=False)
    wtab = literal_frame(spark, _RSI_ROWS, "age bigint, wfp bigint")
    p = seq.select(
        F.col("bar").alias("pbar"), F.col("chg").alias("chg")
    ).filter(F.col("chg").isNotNull())
    rsi = (
        seq.select("bar")
        .join(
            p,
            (F.col("pbar") <= F.col("bar"))
            & (F.col("pbar") > F.col("bar") - _RSI_K),
        )
        .withColumn("age", F.col("bar") - F.col("pbar"))
        .join(F.broadcast(wtab), "age")
        .groupBy("bar")
        .agg(
            F.sum(
                F.when(F.col("chg") > 0, F.col("chg") * F.col("wfp"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("gain_w"),
            F.sum(
                F.when(F.col("chg") < 0, -F.col("chg") * F.col("wfp"))
                .otherwise(F.lit(0))
            ).cast("bigint").alias("loss_w"),
        )
    )
    w20 = Window.orderBy("bar").rowsBetween(-19, 0)
    boll = seq.select(
        "bar",
        "h",
        "close",
        F.sum("close").over(w20).cast("bigint").alias("s20"),
        F.sum(F.col("close") * F.col("close")).over(w20)
        .cast("bigint").alias("ss20"),
        F.count("*").over(w20).cast("bigint").alias("n20"),
    )
    ind = boll.join(rsi, "bar").filter(F.col("n20") == 20)
    ma20 = F.col("s20").cast("double") / F.col("n20")
    sd20 = F.sqrt(
        F.greatest(
            (
                F.col("ss20").cast("double")
                - F.col("s20").cast("double") * F.col("s20") / F.col("n20")
            ) / F.col("n20"),
            F.lit(0.0).cast("double"),
        )
    )
    return (
        ind.select(
            "h",
            "close",
            F.round(
                100.0
                - 100.0
                / (
                    1.0
                    + F.col("gain_w").cast("double")
                    / F.nullif(F.col("loss_w"), F.lit(0))
                ),
                6,
            ).alias("rsi_r"),
            F.round(ma20 / 100.0, 6).alias("ma20_r"),
            F.round(
                (F.col("close") - ma20 + 2.0 * sd20) / (4.0 * sd20), 6
            ).alias("pct_b_r"),
            F.when(F.col("close") > ma20 + 2.0 * sd20, 1)
            .when(F.col("close") < ma20 - 2.0 * sd20, -1)
            .otherwise(0).alias("breach"),
        )
        .orderBy(F.col("h").desc())
        .limit(24)
    )


_CCF_MAX_LAG = 7


@query(
    "a099_cross_correlation",
    oracle=f"""
WITH lags(lag) AS (
  SELECT unnest(generate_series(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG}))
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 10000
              AS BIGINT) AS rev,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE))
              AS BIGINT) AS t
  FROM orders GROUP BY 1
), pairs AS (
  SELECT lg.lag, a.rev AS x, b.cnt AS y
  FROM daily a CROSS JOIN lags lg
  JOIN daily b ON b.t = a.t + lg.lag
), m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT lag, n,
       round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)),
             6) AS ccf_r
FROM m
ORDER BY lag
""",
)
def a099_cross_correlation(spark, sf_dir):
    """Cross-correlation function between daily revenue (hundred-
    dollar units) and daily order count at lags −7..+7 — the
    lead/lag diagnostic that says whether volume LEADS value or just
    co-moves (peak off lag 0 = a transfer delay). The series aligns
    on a row-number time index so calendar gaps don't silently
    misalign lags; each lag's Pearson r comes from exact BIGINT
    cross-moments of the ALIGNED pairs (per-lag n shrinks at the
    edges and the moments follow — no padding bias). 15 rows. At
    100 TB: one date fold; the lag join is O(days × 15)."""
    o = table(spark, sf_dir, "orders")
    wd = Window.orderBy("d")
    daily = daily_orders(
        o,
        money_units("o_totalprice", 10000).alias("rev"),
        F.count("*").cast("bigint").alias("cnt"),
    ).withColumn(
        "t", F.row_number().over(wd).cast("bigint")
    ).localCheckpoint(eager=False)
    lags = literal_frame(
        spark,
        [(l,) for l in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)],
        "lag bigint",
    )
    a = daily.select("t", F.col("rev").alias("x"))
    b = daily.select(F.col("t").alias("tb"), F.col("cnt").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("t") + F.col("lag"))
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n")
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / nd
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / nd
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / nd
    return m.select(
        "lag",
        "n",
        F.round(cxy / F.sqrt(cxx * cyy), 6).alias("ccf_r"),
    ).orderBy("lag")


@query(
    "a100_jackknife_se",
    oracle="""
WITH obs AS (
  SELECT CAST(c.c_nationkey AS BIGINT) AS g,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM obs GROUP BY g
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM grp
), loo AS (
  SELECT g.g,
         CAST(ROUND((CAST(t.st - g.s AS DOUBLE) / (t.nt - g.n))
                    * 100.0, 0) AS BIGINT) AS theta_fp,
         t.k, t.nt, t.st
  FROM grp g CROSS JOIN tot t
), jack AS (
  SELECT MAX(k) AS k, MAX(nt) AS nt, MAX(st) AS st,
         CAST(SUM(theta_fp) AS BIGINT) AS sth,
         CAST(SUM(theta_fp * theta_fp) AS BIGINT) AS sthh
  FROM loo
)
SELECT k AS n_groups,
       round(CAST(st AS DOUBLE) / nt, 6) AS mean_r,
       round(SQRT((CAST(k AS DOUBLE) - 1.0) / k
                  * (CAST(sthh AS DOUBLE)
                     - CAST(sth AS DOUBLE) * sth / k))
             / 100.0, 6) AS se_jack_r,
       round((CAST(sth AS DOUBLE) / k) / 100.0, 6)
         AS theta_bar_r
FROM jack
""",
)
def a100_jackknife_se(spark, sf_dir):
    """Delete-one-GROUP jackknife standard error of the mean order
    value with nations as the resampling blocks — the
    cluster-respecting SE that an iid formula understates when
    observations correlate within nation (compare a090's DEFF). Each
    leave-one-out mean θ_(i) = (S−s_i)/(N−n_i) is CENTI-quantized to
    a BIGINT so the jackknife moments are exact integer sums that
    survive squaring at sf1 magnitudes (micro-quantization overflowed
    — order values are ~1e5 dollars), order-free; SE = √((k−1)/k · Σ(θ_(i)−θ̄)²). At 100 TB: one
    fold to 25 rows, one broadcast, closed form."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    obs = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").cast("bigint").alias("g"),
        F.round("o_totalprice", 0).cast("bigint").alias("v"),
    )
    grp = obs.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    ).localCheckpoint(eager=False)
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
        F.count("*").cast("bigint").alias("k"),
    )
    loo = grp.crossJoin(F.broadcast(tot)).select(
        money(
            (F.col("st") - F.col("s")).cast("double")
            / (F.col("nt") - F.col("n")),
        ).alias("theta_fp"),
        "k",
        "nt",
        "st",
    )
    jack = loo.agg(
        F.max("k").alias("k"),
        F.max("nt").alias("nt"),
        F.max("st").alias("st"),
        F.sum("theta_fp").cast("bigint").alias("sth"),
        F.sum(F.col("theta_fp") * F.col("theta_fp"))
        .cast("bigint").alias("sthh"),
    )
    kd = F.col("k").cast("double")
    return jack.select(
        F.col("k").alias("n_groups"),
        F.round(F.col("st").cast("double") / F.col("nt"), 6)
        .alias("mean_r"),
        F.round(
            F.sqrt(
                (kd - 1.0) / F.col("k")
                * (
                    F.col("sthh").cast("double")
                    - F.col("sth").cast("double") * F.col("sth") / F.col("k")
                )
            ) / 100.0,
            6,
        ).alias("se_jack_r"),
        F.round(
            (F.col("sth").cast("double") / F.col("k")) / 100.0, 6
        ).alias("theta_bar_r"),
    )


@query(
    "a126_lognormal_fit_gof",
    oracle=f"""
WITH vals AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) // 100 * 100 + 50 AS v
  FROM orders WHERE o_totalprice >= 1
), lv AS (
  SELECT v, CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
           AS lnv, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals GROUP BY v
), m AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * lnv) AS BIGINT) AS sl,
         CAST(SUM(cnt * lnv * lnv // 1000000) AS BIGINT) AS sll
  FROM lv
), fit AS (
  SELECT n,
         CAST(sl AS DOUBLE) / n / 1000000.0 AS mu,
         SQRT((CAST(sll AS DOUBLE) * 1000000.0
               - CAST(sl AS DOUBLE) / n * sl)
              / (n - 1)) / 1000000.0 AS sigma
  FROM m
), ecdf AS (
  SELECT l.v, l.lnv,
         CAST(SUM(l.cnt) OVER (ORDER BY l.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         f.n, f.mu, f.sigma
  FROM lv l CROSS JOIN fit f
), dev AS (
  SELECT v,
         ABS(CAST(cum AS DOUBLE) / n
             - {_phi("((lnv / 1000000.0 - mu) / sigma)")}) AS d
  FROM ecdf
)
SELECT f.n AS n_obs,
       round(f.mu, 6) AS mu_log_r,
       round(f.sigma, 6) AS sigma_log_r,
       round(EXP(f.mu + f.sigma * f.sigma / 2.0), 6) AS implied_mean_r,
       round((SELECT MAX(d) FROM dev), 6) AS ks_stat_r,
       round((SELECT MAX(d) FROM dev) * SQRT(CAST(f.n AS DOUBLE)), 6)
         AS ks_scaled_r
FROM fit f
""",
)
def a126_lognormal_fit_gof(spark, sf_dir):
    """Lognormal fit of order values by log-moment MLE (μ̂, σ̂ on the
    ln scale) with a Kolmogorov–Smirnov goodness-of-fit readout
    against the fitted CDF — the distribution check that decides
    whether multiplicative models are safe for spend. Order totals are
    near-UNIQUE, so values bin to hundred-dollar midpoints first (a
    raw distinct-value ECDF self-joined 1.1e12 pairs at the 10x
    audit point — caught live); ln runs once per bin, micro-quantized
    so Σln and Σln² are exact BIGINTs (ln² folded at 1e6); the ECDF
    is a cumulative WINDOW over the bounded histogram, and the KS
    statistic is evaluated at bin edges (binned KS, documented); Φ is
    the shared A&S text. At 100 TB:
    one fold, histogram-sized work."""
    o = table(spark, sf_dir, "orders")
    vals = o.filter(F.col("o_totalprice") >= 1).select(
        F.expr(
            "CAST(ROUND(o_totalprice, 0) AS BIGINT)"
            " div 100 * 100 + 50"
        ).alias("v")
    )
    lv = vals.groupBy("v").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).select(
        "v",
        money(F.log(F.col("v").cast("double")), 6).alias("lnv"),
        "cnt",
    ).localCheckpoint(eager=False)
    m = lv.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("lnv")).cast("bigint").alias("sl"),
        F.sum(
            F.expr("cnt * lnv * lnv div 1000000")
        ).cast("bigint").alias("sll"),
    )
    fit = m.select(
        "n",
        (F.col("sl").cast("double") / F.col("n") / 1e6).alias("mu"),
        (
            F.sqrt(
                (
                    F.col("sll").cast("double") * 1e6
                    - F.col("sl").cast("double") / F.col("n") * F.col("sl")
                )
                / (F.col("n") - 1)
            ) / 1e6
        ).alias("sigma"),
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = lv.select(
        "v",
        "lnv",
        F.sum("cnt").over(wv).cast("bigint").alias("cum"),
    ).crossJoin(F.broadcast(fit))
    dev = ecdf.select(
        F.abs(
            F.col("cum").cast("double") / F.col("n")
            - F.expr(_phi("((lnv / 1000000.0 - mu) / sigma)"))
        ).alias("d")
    )
    ks = dev.agg(F.max("d").alias("ks"))
    return fit.crossJoin(F.broadcast(ks)).select(
        F.col("n").alias("n_obs"),
        F.round("mu", 6).alias("mu_log_r"),
        F.round("sigma", 6).alias("sigma_log_r"),
        F.round(
            F.exp(F.col("mu") + F.col("sigma") * F.col("sigma") / 2.0), 6
        ).alias("implied_mean_r"),
        F.round("ks", 6).alias("ks_stat_r"),
        F.round(
            F.col("ks") * F.sqrt(F.col("n").cast("double")), 6
        ).alias("ks_scaled_r"),
    )


@query(
    "a127_abc_xyz_classification",
    oracle="""
WITH demand AS (
  SELECT CAST(l_partkey AS BIGINT) AS part,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1, 2
), per_part AS (
  SELECT part,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(rev) AS BIGINT) AS rev,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(SUM(q * q) AS BIGINT) AS sqq
  FROM demand GROUP BY part
), ranked AS (
  SELECT part, rev, n_days, sq, sqq,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, part ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_rev,
         CAST(SUM(rev) OVER () AS BIGINT) AS tot_rev
  FROM per_part
), classed AS (
  SELECT part, rev,
         CASE WHEN cum_rev * 100 <= tot_rev * 80 THEN 'A'
              WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B'
              ELSE 'C' END AS abc,
         CASE WHEN n_days < 2 THEN 'Z'
              WHEN (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n_days)
                   / (n_days - 1)
                   <= 0.25 * (CAST(sq AS DOUBLE) / n_days)
                          * (CAST(sq AS DOUBLE) / n_days) THEN 'X'
              WHEN (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / n_days)
                   / (n_days - 1)
                   <= 1.0 * (CAST(sq AS DOUBLE) / n_days)
                         * (CAST(sq AS DOUBLE) / n_days) THEN 'Y'
              ELSE 'Z' END AS xyz,
         tot_rev
  FROM ranked
)
SELECT abc, xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS BIGINT) AS revenue,
       round(CAST(SUM(rev) AS DOUBLE) / MAX(tot_rev), 6) AS rev_share_r
FROM classed
GROUP BY abc, xyz
ORDER BY abc, xyz
""",
)
def a127_abc_xyz_classification(spark, sf_dir):
    """ABC×XYZ inventory classification: parts ranked by revenue into
    cumulative-share classes (A ≤ 80%, B ≤ 95%, C rest — integer
    cross-multiplied thresholds, no float shares) crossed with demand-
    variability classes from the exact daily-demand CV² (X: CV² ≤
    0.25, Y: ≤ 1, Z: else/insufficient history — variance-to-mean²
    compared via identical double expressions off exact BIGINTs). The
    revenue rank window is part-count sized (dimension-scaled, not
    fact-scaled — documented bound); output is the 9-cell class
    matrix with revenue shares. At 100 TB: one lineitem fold keyed
    (part, day), one part fold, one window over the part dimension."""
    li = table(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        F.col("l_partkey").cast("bigint").alias("part"),
        F.to_date("l_shipdate").alias("d"),
    ).agg(
        F.sum(F.round("l_quantity", 0).cast("bigint"))
        .cast("bigint").alias("q"),
        money_units("l_extendedprice", 100).alias("rev"),
    )
    per_part = demand.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("rev").cast("bigint").alias("rev"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
    )
    wr = Window.orderBy(F.col("rev").desc(), F.col("part").asc())
    ranked = per_part.select(
        "part",
        "rev",
        "n_days",
        "sq",
        "sqq",
        F.sum("rev").over(
            wr.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("cum_rev"),
        F.sum("rev").over(Window.partitionBy())
        .cast("bigint").alias("tot_rev"),
    )
    var = (
        F.col("sqq").cast("double")
        - F.col("sq").cast("double") * F.col("sq") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    mean2 = (
        (F.col("sq").cast("double") / F.col("n_days"))
        * (F.col("sq").cast("double") / F.col("n_days"))
    )
    classed = ranked.select(
        "part",
        "rev",
        F.when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 80, "A")
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C").alias("abc"),
        F.when(F.col("n_days") < 2, "Z")
        .when(var <= 0.25 * mean2, "X")
        .when(var <= 1.0 * mean2, "Y")
        .otherwise("Z").alias("xyz"),
        "tot_rev",
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("rev").cast("bigint").alias("revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max("tot_rev"), 6
            ).alias("rev_share_r"),
        )
        .orderBy("abc", "xyz")
    )


@query(
    "a128_newsvendor_stock",
    oracle="""
WITH demand AS (
  SELECT CAST(l_partkey % 97 AS BIGINT) AS bkt,
         CAST(l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS z
  FROM lineitem GROUP BY 1, 2
), hist AS (
  SELECT bkt, z, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM demand GROUP BY bkt, z
), cum AS (
  SELECT bkt, z, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY bkt ORDER BY z
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumc,
         CAST(SUM(cnt) OVER (PARTITION BY bkt) AS BIGINT) AS n,
         CAST(SUM(cnt * z) OVER (PARTITION BY bkt) AS BIGINT) AS sz
  FROM hist
), q AS (
  SELECT bkt,
         CAST(MIN(CASE WHEN cumc * 10 >= n * 9 THEN z END) AS BIGINT)
           AS q90,
         MAX(n) AS n_days, MAX(sz) AS sz
  FROM cum GROUP BY bkt
)
SELECT bkt, n_days, q90,
       round(CAST(sz AS DOUBLE) / n_days, 6) AS mean_demand_r,
       round(q90 - CAST(sz AS DOUBLE) / n_days, 6) AS safety_stock_r
FROM q
ORDER BY bkt
""",
)
def a128_newsvendor_stock(spark, sf_dir):
    """Newsvendor stocking level at the 0.9 critical fractile for each
    of 97 part buckets: the order-up-to quantity is the exact 90th-
    percentile of nonzero daily demand read off the bucket's demand
    HISTOGRAM (integer cross-multiplied cumulative threshold — never
    a percentile_approx, never a global sort), with safety stock =
    q₀.₉ − mean. Windows partition by bucket over domain-bounded
    histograms. At 100 TB: one lineitem fold, bucket-local work."""
    li = table(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        (F.col("l_partkey") % 97).cast("bigint").alias("bkt"),
        F.to_date("l_shipdate").alias("d"),
    ).agg(
        F.sum(F.round("l_quantity", 0).cast("bigint"))
        .cast("bigint").alias("z")
    )
    hist = demand.groupBy("bkt", "z").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wb = Window.partitionBy("bkt").orderBy("z").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wp = Window.partitionBy("bkt")
    cum = hist.select(
        "bkt",
        "z",
        F.sum("cnt").over(wb).cast("bigint").alias("cumc"),
        F.sum("cnt").over(wp).cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("z")).over(wp)
        .cast("bigint").alias("sz"),
    )
    q = cum.groupBy("bkt").agg(
        F.min(
            F.when(F.col("cumc") * 10 >= F.col("n") * 9, F.col("z"))
        ).cast("bigint").alias("q90"),
        F.max("n").alias("n_days"),
        F.max("sz").alias("sz"),
    )
    mean = F.col("sz").cast("double") / F.col("n_days")
    return q.select(
        "bkt",
        "n_days",
        "q90",
        F.round(mean, 6).alias("mean_demand_r"),
        F.round(F.col("q90") - mean, 6).alias("safety_stock_r"),
    ).orderBy("bkt")


_HUB_N = 256
_HUB_K = 10


@query(
    "a129_hubness_audit",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < {_HUB_N}
), knn AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM s q JOIN s c ON c.vec_id != q.vec_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id
  ) <= {_HUB_K}
), occ AS (
  SELECT s.vec_id,
         CAST(COALESCE(k.c, 0) AS BIGINT) AS nk
  FROM s LEFT JOIN (
    SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM knn GROUP BY neighbor_id
  ) k ON k.neighbor_id = s.vec_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(nk) AS BIGINT) AS s1,
         CAST(SUM(nk * nk) AS BIGINT) AS s2,
         CAST(SUM(nk * nk * nk) AS BIGINT) AS s3,
         CAST(MAX(nk) AS BIGINT) AS max_occ,
         CAST(SUM(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_antihubs
  FROM occ
)
SELECT n AS n_vectors, max_occ, n_antihubs,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_occ_r,
       round(CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6)
         AS var_occ_r,
       round((CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n)
                         * (CAST(s1 AS DOUBLE) / n))
              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                * (CAST(s1 AS DOUBLE) / n))
             / POWER(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n)
                       * (CAST(s1 AS DOUBLE) / n), 1.5), 6)
         AS skew_occ_r
FROM m
""",
)
def a129_hubness_audit(spark, sf_dir):
    """Hubness audit of the embedding space: the k-occurrence
    distribution N_k (how often each vector appears in other
    vectors' cosine top-{_HUB_K}) over a deterministic {_HUB_N}-vector
    panel — right-skewed N_k with anti-hubs is THE
    curse-of-dimensionality symptom that silently degrades every
    ANN/dedup pipeline downstream. Mean(N_k) = k exactly (a property
    pin); variance and skewness come from exact integer occurrence
    moments; the kNN ranking breaks float ties by neighbor id. The
    panel keeps the pair stage at {_HUB_N}² at ANY sf (the audit is a
    fixed-size probe, not a corpus sweep). Cosines use the shared
    left-fold dot recipe — bit-identical cross-engine."""
    from ..functions.vector import cosine_similarity

    e = table(spark, sf_dir, "embeddings")
    s = e.filter(F.col("vec_id") < _HUB_N).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=False)
    q = s.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
    )
    c = s.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        q.join(F.broadcast(c), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qe"), F.col("ce")).alias("cos"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    knn = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= _HUB_K
    )
    koc = knn.groupBy("neighbor_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    occ = s.join(
        koc, s.vec_id == koc.neighbor_id, "left"
    ).select(
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("nk")
    )
    m = occ.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("nk").cast("bigint").alias("s1"),
        F.sum(F.col("nk") * F.col("nk")).cast("bigint").alias("s2"),
        F.sum(F.col("nk") * F.col("nk") * F.col("nk"))
        .cast("bigint").alias("s3"),
        F.max("nk").cast("bigint").alias("max_occ"),
        F.sum(F.when(F.col("nk") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_antihubs"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3.0 * mu * m2
        - mu * mu * mu
    )
    return m.select(
        F.col("n").alias("n_vectors"),
        "max_occ",
        "n_antihubs",
        F.round(mu, 6).alias("mean_occ_r"),
        F.round(m2, 6).alias("var_occ_r"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skew_occ_r"),
    )


@query(
    "a130_twonn_intrinsic_dim",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < {_HUB_N}
), d2 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.e, q.e) + list_dot_product(c.e, c.e)
           - 2.0 * list_dot_product(q.e, c.e) AS dd,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(q.e, q.e)
                    + list_dot_product(c.e, c.e)
                    - 2.0 * list_dot_product(q.e, c.e) ASC, c.vec_id ASC
         ) AS rn
  FROM s q JOIN s c ON c.vec_id != q.vec_id
), mu AS (
  SELECT query_id,
         CAST(ROUND(0.5 * ln(MAX(CASE WHEN rn = 2 THEN dd END)
                             / MAX(CASE WHEN rn = 1 THEN dd END))
                    * 1000000.0, 0) AS BIGINT) AS lnmu_fp
  FROM d2 WHERE rn <= 2 GROUP BY query_id
  HAVING MAX(CASE WHEN rn = 1 THEN dd END) > 0
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(lnmu_fp) AS BIGINT) AS sl
  FROM mu
)
SELECT n AS n_points,
       round(CAST(n AS DOUBLE) * 1000000.0 / sl, 6) AS intrinsic_dim_r,
       round(CAST(sl AS DOUBLE) / n / 1000000.0, 6) AS mean_ln_mu_r
FROM agg
""",
)
def a130_twonn_intrinsic_dim(spark, sf_dir):
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017): with
    μ_i = r₂/r₁ the ratio of each point's two nearest-neighbor
    distances, d̂ = n / Σ ln μ_i — the honest answer to "how many of
    the 64 embedding dimensions are real", which prices every
    LSH/IVF/PQ design choice upstream. Distances come from the shared
    left-fold dot recipe (d² = ⟨q,q⟩+⟨c,c⟩−2⟨q,c⟩, bit-identical
    cross-engine); ln μ = ½ln(d₂²/d₁²) is micro-quantized per panel
    point so the sum is exact; the {_HUB_N}-point panel bounds the
    pair stage at any sf. Duplicate points (r₁ = 0) are excluded by
    an exact guard in both engines."""
    from ..functions.vector import dot

    e = table(spark, sf_dir, "embeddings")
    s = e.filter(F.col("vec_id") < _HUB_N).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=False)
    q = s.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = s.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
    )
    dd = (
        dot(F.col("qe"), F.col("qe"))
        + dot(F.col("ce"), F.col("ce"))
        - 2.0 * dot(F.col("qe"), F.col("ce"))
    )
    scored = q.join(
        F.broadcast(c), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", dd.alias("dd"))
    wk = Window.partitionBy("query_id").orderBy(
        F.col("dd").asc(), F.col("neighbor_id").asc()
    )
    top2 = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= 2
    )
    mu = (
        top2.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("dd"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("dd"))).alias("d2"),
        )
        .filter(F.col("d1") > 0)
        .select(money(0.5 * F.log(F.col("d2") / F.col("d1")), 6).alias("lnmu_fp"))
    )
    agg = mu.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lnmu_fp").cast("bigint").alias("sl"),
    )
    return agg.select(
        F.col("n").alias("n_points"),
        F.round(
            F.col("n").cast("double") * 1e6 / F.col("sl"), 6
        ).alias("intrinsic_dim_r"),
        F.round(
            F.col("sl").cast("double") / F.col("n") / 1e6, 6
        ).alias("mean_ln_mu_r"),
    )


@query(
    "a131_lindley_queue_replay",
    oracle="""
WITH arr AS (
  SELECT CAST(epoch_us(ts) AS BIGINT) AS t,
         CAST((30 + event_id % 31) * 1000000 AS BIGINT) AS svc,
         CAST(ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC)
              AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase'
), inc AS (
  SELECT n, t, svc,
         CASE WHEN n = 1 THEN CAST(0 AS BIGINT)
              ELSE CAST(LAG(svc) OVER (ORDER BY n)
                        - (t - LAG(t) OVER (ORDER BY n)) AS BIGINT)
         END AS delta
  FROM arr
), pre AS (
  SELECT n, t, svc,
         CAST(SUM(delta) OVER (ORDER BY n
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS p
  FROM inc
), waits AS (
  SELECT n, t, svc,
         CAST(p - MIN(p) OVER (ORDER BY n
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS w
  FROM pre
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_jobs,
         CAST(SUM(w) AS BIGINT) AS sw,
         CAST(MAX(w) AS BIGINT) AS max_w,
         CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_waited,
         CAST(SUM(svc) AS BIGINT) AS ssvc,
         CAST(MAX(t) - MIN(t) AS BIGINT) AS horizon
  FROM waits
)
SELECT n_jobs,
       round(CAST(sw AS DOUBLE) / n_jobs / 1000000.0, 6)
         AS mean_wait_s_r,
       round(CAST(max_w AS DOUBLE) / 1000000.0, 6) AS max_wait_s_r,
       round(CAST(n_waited AS DOUBLE) / n_jobs, 6) AS frac_waited_r,
       round(CAST(ssvc AS DOUBLE) / horizon, 6) AS utilization_r,
       CAST(n_jobs - n_waited AS BIGINT) AS n_busy_periods
FROM agg
""",
)
def a131_lindley_queue_replay(spark, sf_dir):
    """Exact single-server FIFO queue replay over the purchase-event
    arrival trace (deterministic 30–60 s service times keyed off
    event_id): the Lindley recursion W_n = max(0, W_{n−1}+S_{n−1}−A_n)
    is NOT a fold here — it collapses to W_n = P_n − min_{k≤n}P_k
    with P the prefix sum of (S_{n−1}−A_n), the same
    prefix-minus-running-min identity the CUSUM family uses, so two
    ordered windows over exact integer microseconds replace the
    sequential loop. Complements a398's analytic M/M/1 ESTIMATES with
    measured trace waits: mean/max wait, delay fraction, utilization
    Σsvc/horizon, busy-period count (zero-wait arrivals). The global
    window is the inherent sequential dependency of a single queue —
    at 100 TB you'd partition by queue/server key (documented); all
    arithmetic stays exact BIGINT micros."""
    ev = table(spark, sf_dir, "events")
    wn = Window.orderBy("n")
    arr = ev.filter(F.col("event_type") == "purchase").select(
        F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("t"),
        ((30 + F.col("event_id") % 31) * 1000000)
        .cast("bigint").alias("svc"),
        F.row_number().over(
            Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
        ).cast("bigint").alias("n"),
    )
    inc = arr.select(
        "n",
        "t",
        "svc",
        F.when(F.col("n") == 1, F.lit(0).cast("bigint"))
        .otherwise(
            (
                F.lag("svc").over(wn)
                - (F.col("t") - F.lag("t").over(wn))
            ).cast("bigint")
        )
        .alias("delta"),
    )
    wcum = wn.rowsBetween(Window.unboundedPreceding, 0)
    pre = inc.select(
        "n",
        "t",
        "svc",
        F.sum("delta").over(wcum).cast("bigint").alias("p"),
    )
    waits = pre.select(
        "n",
        "t",
        "svc",
        (F.col("p") - F.min("p").over(wcum)).cast("bigint").alias("w"),
    )
    agg = waits.agg(
        F.count("*").cast("bigint").alias("n_jobs"),
        F.sum("w").cast("bigint").alias("sw"),
        F.max("w").cast("bigint").alias("max_w"),
        F.sum(F.when(F.col("w") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_waited"),
        F.sum("svc").cast("bigint").alias("ssvc"),
        (F.max("t") - F.min("t")).cast("bigint").alias("horizon"),
    )
    return agg.select(
        "n_jobs",
        F.round(
            F.col("sw").cast("double") / F.col("n_jobs") / 1e6, 6
        ).alias("mean_wait_s_r"),
        F.round(F.col("max_w").cast("double") / 1e6, 6)
        .alias("max_wait_s_r"),
        F.round(
            F.col("n_waited").cast("double") / F.col("n_jobs"), 6
        ).alias("frac_waited_r"),
        F.round(
            F.col("ssvc").cast("double") / F.col("horizon"), 6
        ).alias("utilization_r"),
        (F.col("n_jobs") - F.col("n_waited")).cast("bigint")
        .alias("n_busy_periods"),
    )


_CIDX_PANEL = 512


@query(
    "a132_harrell_c_index",
    oracle=f"""
WITH base AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
         MAX(ts) AS last_ts,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS clicks
  FROM events GROUP BY user_id
), signed AS (
  SELECT user_id, s_ts, last_ts, clicks FROM base
  WHERE s_ts IS NOT NULL AND user_id < {_CIDX_PANEL}
), conv AS (
  SELECT s.user_id, MIN(e.ts) AS p_ts
  FROM signed s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.s_ts
  GROUP BY s.user_id
), subj AS (
  SELECT s.user_id, s.clicks,
         CAST(CASE WHEN c.p_ts IS NOT NULL
              THEN epoch_us(c.p_ts) - epoch_us(s.s_ts)
              ELSE epoch_us(s.last_ts) - epoch_us(s.s_ts)
              END AS BIGINT) AS t_us,
         CASE WHEN c.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM signed s LEFT JOIN conv c ON c.user_id = s.user_id
), pairs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_comparable,
         CAST(SUM(CASE WHEN a.clicks > b.clicks THEN 1 ELSE 0 END)
              AS BIGINT) AS concordant,
         CAST(SUM(CASE WHEN a.clicks = b.clicks THEN 1 ELSE 0 END)
              AS BIGINT) AS tied_pred
  FROM subj a JOIN subj b
    ON a.ev = 1 AND a.t_us < b.t_us
)
SELECT n_comparable, concordant, tied_pred,
       round((CAST(concordant AS DOUBLE) + 0.5 * tied_pred)
             / n_comparable, 6) AS c_index_r
FROM pairs
""",
)
def a132_harrell_c_index(spark, sf_dir):
    """Harrell's concordance index for "does click volume predict
    faster signup→purchase conversion": among comparable pairs (i
    converted strictly before j's observed time), C = P(higher score
    converts first), ties in the score credited ½ — the survival
    analogue of ROC-AUC that respects censoring, which q286's plain
    AUC cannot. The pairwise stage runs on a fixed {_CIDX_PANEL}-user
    panel (the a129 bounded-probe pattern — comparable-pair counting
    is inherently quadratic, so the audit bounds it by construction;
    the estimator itself is exact integer counting on microsecond
    times with a strict < comparability rule). Higher-clicks-converts-
    faster shows as C > 0.5."""
    ev = table(spark, sf_dir, "events")
    clicks = F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
    signed = (
        signups(ev, clicks.cast("bigint").alias("clicks"))
        .filter(F.col("user_id") < _CIDX_PANEL)
        .localCheckpoint(eager=False)
    )
    subj = signed.join(first_purchase(signed, ev), "user_id", "left").select(
        "user_id",
        "clicks",
        F.when(
            F.col("p_ts").isNotNull(),
            F.expr("unix_micros(p_ts) - unix_micros(s_ts)"),
        )
        .otherwise(F.expr("unix_micros(last_ts) - unix_micros(s_ts)"))
        .cast("bigint")
        .alias("t_us"),
        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0).alias("ev"),
    ).localCheckpoint(eager=False)
    a = subj.select(
        F.col("clicks").alias("ca"),
        F.col("t_us").alias("ta"),
        F.col("ev").alias("ea"),
    )
    b = subj.select(
        F.col("clicks").alias("cb"), F.col("t_us").alias("tb")
    )
    pairs = a.join(
        F.broadcast(b), (F.col("ea") == 1) & (F.col("ta") < F.col("tb"))
    ).agg(
        F.count("*").cast("bigint").alias("n_comparable"),
        F.sum(F.when(F.col("ca") > F.col("cb"), 1).otherwise(0))
        .cast("bigint").alias("concordant"),
        F.sum(F.when(F.col("ca") == F.col("cb"), 1).otherwise(0))
        .cast("bigint").alias("tied_pred"),
    )
    return pairs.select(
        "n_comparable",
        "concordant",
        "tied_pred",
        F.round(
            (F.col("concordant").cast("double") + 0.5 * F.col("tied_pred"))
            / F.col("n_comparable"),
            6,
        ).alias("c_index_r"),
    )


# O'Brien-Fleming two-sided boundaries for 5 equally-spaced looks at
# overall alpha 0.05 (Lan-DeMets OBF spending, standard table values) —
# embedded constants, identical in both plans.
_OBF_LOOKS = ((6, 4.8769), (12, 3.3569), (18, 2.6803), (24, 2.2898), (30, 2.0310))
_OBF_VALUES = ", ".join(f"({d}, CAST({z} AS DOUBLE))" for d, z in _OBF_LOOKS)


@query(
    "a133_group_sequential_obf",
    oracle=f"""
WITH looks(look_day, z_bound) AS (VALUES {_OBF_VALUES}),
per_user AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
         CAST(ts AS DATE) AS d,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
), cells AS (
  SELECT l.look_day, l.z_bound, p.arm, p.user_id,
         CAST(SUM(p.v) AS BIGINT) AS y
  FROM per_user p JOIN looks l
    ON p.d < DATE '2024-01-01' + INTERVAL (l.look_day) DAY
  GROUP BY l.look_day, l.z_bound, p.arm, p.user_id
), grp AS (
  SELECT look_day, z_bound, arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS ss
  FROM cells GROUP BY look_day, z_bound, arm
), wide AS (
  SELECT look_day, z_bound,
         MAX(CASE WHEN arm = 1 THEN n END) AS n1,
         MAX(CASE WHEN arm = 0 THEN n END) AS n0,
         MAX(CASE WHEN arm = 1 THEN CAST(s AS DOUBLE) / n END) AS m1,
         MAX(CASE WHEN arm = 0 THEN CAST(s AS DOUBLE) / n END) AS m0,
         MAX(CASE WHEN arm = 1 THEN
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
             END) AS v1,
         MAX(CASE WHEN arm = 0 THEN
             (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
             END) AS v0
  FROM grp GROUP BY look_day, z_bound
)
SELECT look_day,
       CAST(n1 + n0 AS BIGINT) AS n_users,
       round(z_bound, 6) AS z_bound_r,
       round((m1 - m0) / SQRT(v1 / n1 + v0 / n0), 6) AS z_obs_r,
       CASE WHEN ABS((m1 - m0) / SQRT(v1 / n1 + v0 / n0)) > z_bound
            THEN 1 ELSE 0 END AS crossed
FROM wide
ORDER BY look_day
""",
)
def a133_group_sequential_obf(spark, sf_dir):
    """Group-sequential A/B monitor with O'Brien–Fleming boundaries at
    5 equally-spaced looks (days 6/12/18/24/30, overall α = 0.05,
    standard Lan–DeMets OBF table embedded as constants in both
    plans) — the peeking-safe alternative to q308's SPRT: early looks
    need z > 4.88, the final look only 2.03. Each look's Welch z
    comes from exact cents moments of the per-user purchase revenue
    ACCUMULATED to that look's cutoff (the look table joins the event
    fold — 5× a user-keyed aggregate, never 5 scans). At 100 TB: one
    filtered fold keyed (look, arm, user)."""
    ev = table(spark, sf_dir, "events")
    looks = literal_frame(
        spark,
        [(d, z) for d, z in _OBF_LOOKS], "look_day bigint, z_bound double"
    )
    per_user = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("user_id") % 2).cast("bigint").alias("arm"),
        F.to_date("ts").alias("d"),
        money("value").alias("v"),
    )
    cells = (
        per_user.join(
            F.broadcast(looks),
            F.col("d")
            < F.expr("DATE '2024-01-01' + make_interval(0,0,0,look_day)"),
        )
        .groupBy("look_day", "z_bound", "arm", "user_id")
        .agg(F.sum("v").cast("bigint").alias("y"))
    )
    grp = cells.groupBy("look_day", "z_bound", "arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    pick = lambda a, e: F.max(F.when(F.col("arm") == a, e))  # noqa: E731
    wide = grp.groupBy("look_day", "z_bound").agg(
        pick(1, F.col("n")).alias("n1"),
        pick(0, F.col("n")).alias("n0"),
        pick(1, mean).alias("m1"),
        pick(0, mean).alias("m0"),
        pick(1, var).alias("v1"),
        pick(0, var).alias("v0"),
    )
    z = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")
    )
    return wide.select(
        "look_day",
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_users"),
        F.round("z_bound", 6).alias("z_bound_r"),
        F.round(z, 6).alias("z_obs_r"),
        F.when(F.abs(z) > F.col("z_bound"), 1).otherwise(0)
        .alias("crossed"),
    ).orderBy("look_day")


_ENS_W = 28  # trailing ensemble window (days)


@query(
    "a134_crps_ensemble",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 10000 AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE))
              AS BIGINT) AS t
  FROM orders GROUP BY 1
), targets AS (
  SELECT t, x FROM daily WHERE t > {_ENS_W}
), term1 AS (
  SELECT tg.t, CAST(SUM(ABS(e.x - tg.x)) AS BIGINT) AS s1,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM targets tg JOIN daily e
    ON e.t >= tg.t - {_ENS_W} AND e.t < tg.t
  GROUP BY tg.t
), term2 AS (
  SELECT tg.t, CAST(SUM(ABS(e1.x - e2.x)) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS mm
  FROM targets tg
  JOIN daily e1 ON e1.t >= tg.t - {_ENS_W} AND e1.t < tg.t
  JOIN daily e2 ON e2.t >= tg.t - {_ENS_W} AND e2.t < tg.t
  GROUP BY tg.t
), per_day AS (
  SELECT t1.t,
         CAST(t1.s1 AS DOUBLE) / t1.m
           - 0.5 * CAST(t2.s2 AS DOUBLE) / t2.mm AS crps
  FROM term1 t1 JOIN term2 t2 ON t2.t = t1.t
), qd AS (
  SELECT t, CAST(ROUND(crps * 1000000.0, 0) AS BIGINT) AS crps_fp
  FROM per_day
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       round(CAST(SUM(crps_fp) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
         AS mean_crps_r,
       round(CAST(MAX(crps_fp) AS DOUBLE) / 1000000.0, 6)
         AS max_crps_r
FROM qd
""",
)
def a134_crps_ensemble(spark, sf_dir):
    """Continuous ranked probability score for the trailing-28-day
    empirical-ensemble forecast of daily revenue (hundred-dollar
    units): CRPS(F, y) = E|X−y| − ½E|X−X′| evaluated EXACTLY on the
    discrete ensemble — both expectations are integer absolute-
    difference sums over calendar-bounded windows (28 and 28² terms
    per day), so the only doubles are the terminal per-day ratios,
    micro-quantized before the cross-day average (order-free). CRPS
    is the proper score that rewards calibration AND sharpness
    together — the upgrade over point-forecast MAE the a114/a048
    family reports. At 100 TB: one date fold; O(days·28²) after."""
    o = table(spark, sf_dir, "orders")
    wd = Window.orderBy("d")
    daily = daily_orders(
        o, money_units("o_totalprice", 10000).alias("x")
    ).withColumn(
        "t", F.row_number().over(wd).cast("bigint")
    ).localCheckpoint(eager=False)
    targets = daily.filter(F.col("t") > _ENS_W).select(
        "t", F.col("x").alias("y")
    )
    e = daily.select(F.col("t").alias("et"), F.col("x").alias("ex"))
    term1 = (
        targets.join(
            e,
            (F.col("et") >= F.col("t") - _ENS_W)
            & (F.col("et") < F.col("t")),
        )
        .groupBy("t")
        .agg(
            F.sum(F.abs(F.col("ex") - F.col("y")))
            .cast("bigint").alias("s1"),
            F.count("*").cast("bigint").alias("m"),
        )
    )
    e2 = daily.select(F.col("t").alias("e2t"), F.col("x").alias("e2x"))
    term2 = (
        targets.join(
            e,
            (F.col("et") >= F.col("t") - _ENS_W)
            & (F.col("et") < F.col("t")),
        )
        .join(
            e2,
            (F.col("e2t") >= F.col("t") - _ENS_W)
            & (F.col("e2t") < F.col("t")),
        )
        .groupBy("t")
        .agg(
            F.sum(F.abs(F.col("ex") - F.col("e2x")))
            .cast("bigint").alias("s2"),
            F.count("*").cast("bigint").alias("mm"),
        )
    )
    per_day = term1.join(term2, "t").select(
        "t",
        (
            F.col("s1").cast("double") / F.col("m")
            - 0.5 * F.col("s2").cast("double") / F.col("mm")
        ).alias("crps"),
    )
    qd = per_day.select(money("crps", 6).alias("crps_fp"))
    return qd.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(
            F.sum("crps_fp").cast("double") / F.count("*") / 1e6, 6
        ).alias("mean_crps_r"),
        F.round(F.max("crps_fp").cast("double") / 1e6, 6)
        .alias("max_crps_r"),
    )


@query(
    "a135_winkler_interval_score",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 10000 AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE))
              AS BIGINT) AS t
  FROM orders GROUP BY 1
), targets AS (
  SELECT t, x FROM daily WHERE t > {_ENS_W}
), ranked AS (
  SELECT tg.t, tg.x AS y, e.x AS ex,
         ROW_NUMBER() OVER (PARTITION BY tg.t
                            ORDER BY e.x ASC, e.t ASC) AS rk
  FROM targets tg JOIN daily e
    ON e.t >= tg.t - {_ENS_W} AND e.t < tg.t
), bounds AS (
  SELECT t, MAX(y) AS y,
         CAST(MAX(CASE WHEN rk = 3 THEN ex END) AS BIGINT) AS lo,
         CAST(MAX(CASE WHEN rk = 26 THEN ex END) AS BIGINT) AS hi
  FROM ranked GROUP BY t
), scored AS (
  SELECT t, y, lo, hi,
         CAST((hi - lo)
              + CASE WHEN y < lo THEN 10 * (lo - y) ELSE 0 END
              + CASE WHEN y > hi THEN 10 * (y - hi) ELSE 0 END
              AS BIGINT) AS ws,
         CASE WHEN y >= lo AND y <= hi THEN 1 ELSE 0 END AS covered
  FROM bounds
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       round(CAST(SUM(ws) AS DOUBLE) / COUNT(*), 6) AS mean_winkler_r,
       round(CAST(SUM(covered) AS DOUBLE) / COUNT(*), 6)
         AS coverage_r,
       round(CAST(SUM(hi - lo) AS DOUBLE) / COUNT(*), 6)
         AS mean_width_r
FROM scored
""",
)
def a135_winkler_interval_score(spark, sf_dir):
    """Winkler interval score for the trailing-ensemble 80%% interval
    (order statistics 3 and 26 of the 28-member window ≈ the
    q10/q90): IS = width + (2/α)·overshoot, α = 0.2 → penalty factor
    10 — the proper score that jointly grades coverage and sharpness,
    reported next to the raw empirical coverage and mean width. Every
    score is an EXACT integer (hundred-dollar units, integer penalty
    factor); ranks break ties by ensemble day. At 100 TB: one date
    fold, O(days·28) rank windows partitioned by target day."""
    o = table(spark, sf_dir, "orders")
    wd = Window.orderBy("d")
    daily = daily_orders(
        o, money_units("o_totalprice", 10000).alias("x")
    ).withColumn(
        "t", F.row_number().over(wd).cast("bigint")
    ).localCheckpoint(eager=False)
    targets = daily.filter(F.col("t") > _ENS_W).select(
        "t", F.col("x").alias("y")
    )
    e = daily.select(F.col("t").alias("et"), F.col("x").alias("ex"))
    wr = Window.partitionBy("t").orderBy(
        F.col("ex").asc(), F.col("et").asc()
    )
    ranked = targets.join(
        e,
        (F.col("et") >= F.col("t") - _ENS_W) & (F.col("et") < F.col("t")),
    ).withColumn("rk", F.row_number().over(wr))
    bounds = ranked.groupBy("t").agg(
        F.max("y").alias("y"),
        F.max(F.when(F.col("rk") == 3, F.col("ex")))
        .cast("bigint").alias("lo"),
        F.max(F.when(F.col("rk") == 26, F.col("ex")))
        .cast("bigint").alias("hi"),
    )
    ws = (
        (F.col("hi") - F.col("lo"))
        + F.when(
            F.col("y") < F.col("lo"), 10 * (F.col("lo") - F.col("y"))
        ).otherwise(F.lit(0))
        + F.when(
            F.col("y") > F.col("hi"), 10 * (F.col("y") - F.col("hi"))
        ).otherwise(F.lit(0))
    ).cast("bigint")
    scored = bounds.select(
        ws.alias("ws"),
        F.when(
            (F.col("y") >= F.col("lo")) & (F.col("y") <= F.col("hi")), 1
        ).otherwise(0).alias("covered"),
        (F.col("hi") - F.col("lo")).alias("width"),
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(
            F.sum("ws").cast("double") / F.count("*"), 6
        ).alias("mean_winkler_r"),
        F.round(
            F.sum("covered").cast("double") / F.count("*"), 6
        ).alias("coverage_r"),
        F.round(
            F.sum("width").cast("double") / F.count("*"), 6
        ).alias("mean_width_r"),
    )


@query(
    "a136_pit_uniformity",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 10000 AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE))
              AS BIGINT) AS t
  FROM orders GROUP BY 1
), targets AS (
  SELECT t, x FROM daily WHERE t > {_ENS_W}
), pit AS (
  SELECT tg.t,
         CAST(SUM(CASE WHEN e.x < tg.x THEN 1 ELSE 0 END) AS BIGINT)
           AS n_below
  FROM targets tg JOIN daily e
    ON e.t >= tg.t - {_ENS_W} AND e.t < tg.t
  GROUP BY tg.t
), binned AS (
  SELECT LEAST(3, n_below * 4 // ({_ENS_W} + 1)) AS pit_bin
  FROM pit
), cells AS (
  SELECT pit_bin, CAST(COUNT(*) AS BIGINT) AS k FROM binned
  GROUP BY pit_bin
), tot AS (
  SELECT CAST(SUM(k) AS BIGINT) AS n FROM cells
)
SELECT c.pit_bin, c.k,
       round(CAST(c.k AS DOUBLE) / t.n, 6) AS frac_r,
       round(POWER(c.k - CAST(t.n AS DOUBLE) / 4.0, 2)
             / (CAST(t.n AS DOUBLE) / 4.0), 6) AS chi2_term_r
FROM cells c CROSS JOIN tot t
ORDER BY c.pit_bin
""",
)
def a136_pit_uniformity(spark, sf_dir):
    """Probability-integral-transform uniformity check for the same
    trailing ensemble: each day's PIT rank (how many ensemble members
    fall below the outcome) should be uniform if the forecast is
    calibrated — a U-shaped histogram means underdispersion, a hump
    means overdispersion, exactly the diagnosis CRPS alone can't
    localize. Ranks are exact integer counts; quartile bins use
    integer cross-multiplication; the per-bin χ² terms against the
    uniform expectation are terminal doubles. 4 rows. At 100 TB:
    one date fold + an O(days·28) band join."""
    o = table(spark, sf_dir, "orders")
    wd = Window.orderBy("d")
    daily = daily_orders(
        o, money_units("o_totalprice", 10000).alias("x")
    ).withColumn(
        "t", F.row_number().over(wd).cast("bigint")
    ).localCheckpoint(eager=False)
    targets = daily.filter(F.col("t") > _ENS_W).select(
        "t", F.col("x").alias("y")
    )
    e = daily.select(F.col("t").alias("et"), F.col("x").alias("ex"))
    pit = (
        targets.join(
            e,
            (F.col("et") >= F.col("t") - _ENS_W)
            & (F.col("et") < F.col("t")),
        )
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("ex") < F.col("y"), 1).otherwise(0))
            .cast("bigint").alias("n_below")
        )
    )
    binned = pit.select(
        F.least(
            F.lit(3),
            F.expr(f"n_below * 4 div ({_ENS_W} + 1)"),
        ).alias("pit_bin")
    )
    cells = binned.groupBy("pit_bin").agg(
        F.count("*").cast("bigint").alias("k")
    )
    tot = cells.agg(F.sum("k").cast("bigint").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "pit_bin",
            "k",
            F.round(
                F.col("k").cast("double") / F.col("n"), 6
            ).alias("frac_r"),
            F.round(
                F.pow(
                    F.col("k") - F.col("n").cast("double") / 4.0, 2
                ) / (F.col("n").cast("double") / 4.0),
                6,
            ).alias("chi2_term_r"),
        )
        .orderBy("pit_bin")
    )


@query(
    "a137_tail_dependence",
    oracle="""
WITH xy AS (
  SELECT c.c_custkey,
         CAST(ROUND(c.c_acctbal * 100.0, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY x ASC, c_custkey ASC) AS rx,
         ROW_NUMBER() OVER (ORDER BY y ASC, c_custkey ASC) AS ry,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM xy
), m AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CASE WHEN rx * 20 > n * 19 AND ry * 20 > n * 19
                       THEN 1 ELSE 0 END) AS BIGINT) AS both_hi,
         CAST(SUM(CASE WHEN rx * 20 <= n AND ry * 20 <= n
                       THEN 1 ELSE 0 END) AS BIGINT) AS both_lo,
         CAST(SUM(CASE WHEN rx * 20 > n * 19 THEN 1 ELSE 0 END)
              AS BIGINT) AS hi_x,
         CAST(SUM(CASE WHEN rx * 20 <= n THEN 1 ELSE 0 END)
              AS BIGINT) AS lo_x
  FROM ranked
)
SELECT n, both_hi, both_lo,
       round(CAST(both_hi AS DOUBLE) / hi_x, 6) AS lambda_upper_r,
       round(CAST(both_lo AS DOUBLE) / lo_x, 6) AS lambda_lower_r,
       round(CAST(both_hi AS DOUBLE) * 400.0 / n
             / (1.0 * 1.0), 6) AS upper_lift_r
FROM m
""",
)
def a137_tail_dependence(spark, sf_dir):
    """Empirical tail-dependence coefficients between account balance
    and total spend: λ_U ≈ P(Y in top 5% | X in top 5%), λ_L the
    mirrored lower-tail version — the dependence-in-the-extremes
    readout that Pearson/Spearman wash out (joint risk concentrates
    in tails). Ranks are keyed row_numbers, tail membership is
    integer cross-multiplication (rx·20 > 19n), and every coefficient
    is an exact-count ratio; upper_lift is the joint-tail mass
    against the 1/400 independence baseline. The rank windows are
    customer-count sized (q171's legitimately-ordered class). At
    100 TB: one fold, two windows, exact counting."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum(money("o_totalprice")).cast("bigint").alias("y"))
        .select(
            "c_custkey",
            money("c_acctbal").alias("x"),
            "y",
        )
    )
    wx = Window.orderBy(F.col("x").asc(), F.col("c_custkey").asc())
    wy = Window.orderBy(F.col("y").asc(), F.col("c_custkey").asc())
    ranked = xy.select(
        F.row_number().over(wx).alias("rx"),
        F.row_number().over(wy).alias("ry"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    m = ranked.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(
                (F.col("rx") * 20 > F.col("n") * 19)
                & (F.col("ry") * 20 > F.col("n") * 19),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("both_hi"),
        F.sum(
            F.when(
                (F.col("rx") * 20 <= F.col("n"))
                & (F.col("ry") * 20 <= F.col("n")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("both_lo"),
        F.sum(
            F.when(F.col("rx") * 20 > F.col("n") * 19, 1).otherwise(0)
        ).cast("bigint").alias("hi_x"),
        F.sum(
            F.when(F.col("rx") * 20 <= F.col("n"), 1).otherwise(0)
        ).cast("bigint").alias("lo_x"),
    )
    return m.select(
        "n",
        "both_hi",
        "both_lo",
        F.round(
            F.col("both_hi").cast("double") / F.col("hi_x"), 6
        ).alias("lambda_upper_r"),
        F.round(
            F.col("both_lo").cast("double") / F.col("lo_x"), 6
        ).alias("lambda_lower_r"),
        F.round(
            F.col("both_hi").cast("double") * 400.0 / F.col("n")
            / (1.0 * 1.0),
            6,
        ).alias("upper_lift_r"),
    )


@query(
    "a138_chatterjee_xi",
    oracle="""
WITH xy AS (
  SELECT c.c_custkey,
         CAST(ROUND(c.c_acctbal * 100.0, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_acctbal
), yhist AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS g FROM xy GROUP BY y
), yrank AS (
  SELECT y,
         CAST(COALESCE(SUM(g) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + g AS BIGINT) AS r_le
  FROM yhist
), seq AS (
  SELECT yr.r_le,
         LEAD(yr.r_le) OVER (ORDER BY p.x ASC, p.c_custkey ASC)
           AS r_next,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM xy p JOIN yrank yr ON yr.y = p.y
), m AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CASE WHEN r_next IS NOT NULL
                       THEN ABS(r_le - r_next) END) AS BIGINT) AS sad
  FROM seq
)
SELECT n,
       round(1.0 - 3.0 * CAST(sad AS DOUBLE)
             / (CAST(n AS DOUBLE) * n - 1.0), 6) AS xi_r
FROM m
""",
)
def a138_chatterjee_xi(spark, sf_dir):
    """Chatterjee's ξ rank correlation (JASA 2021) between account
    balance and spend: ξ = 1 − 3Σ|r_{i+1} − r_i|/(n²−1) where r is
    the count of y-values ≤ y_i and the sequence walks in x order —
    the modern coefficient that detects ARBITRARY functional
    dependence (oscillating, non-monotone) where Pearson/Spearman
    read ~0, and equals ~0 under independence. Ranks come from a
    y-value histogram (tie-exact r_le counts, no per-row rank
    window over y), the x-walk is one ordered window, and Σ|Δr| is
    an exact BIGINT. At 100 TB: one fold, one histogram, one ordered
    walk — the walk is the estimator's inherent sequential core."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.sum(money("o_totalprice")).cast("bigint").alias("y"))
        .select(
            "c_custkey",
            money("c_acctbal").alias("x"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    yhist = xy.groupBy("y").agg(F.count("*").cast("bigint").alias("g"))
    wv = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    yrank = yhist.select(
        "y",
        (
            F.coalesce(F.sum("g").over(wv), F.lit(0)) + F.col("g")
        ).cast("bigint").alias("r_le"),
    )
    wx = Window.orderBy(F.col("x").asc(), F.col("c_custkey").asc())
    seq = xy.join(yrank, "y").select(
        "r_le",
        F.lead("r_le").over(wx).alias("r_next"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    m = seq.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(
                F.col("r_next").isNotNull(),
                F.abs(F.col("r_le") - F.col("r_next")),
            )
        ).cast("bigint").alias("sad"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        "n",
        F.round(
            1.0 - 3.0 * F.col("sad").cast("double") / (nd * nd - 1.0), 6
        ).alias("xi_r"),
    )


_DCOR_PANEL = 512


@query(
    "a139_distance_correlation",
    oracle=f"""
WITH xy AS (
  SELECT c.c_custkey,
         CAST(ROUND(c.c_acctbal, 0) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
              // 100000 AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey < {_DCOR_PANEL}
  GROUP BY c.c_custkey, c.c_acctbal
), pairs AS (
  SELECT a.c_custkey AS i,
         CAST(ABS(a.x - b.x) AS BIGINT) AS dx,
         CAST(ABS(a.y - b.y) AS BIGINT) AS dy
  FROM xy a JOIN xy b ON TRUE
), per_i AS (
  SELECT i,
         CAST(SUM(dx) AS BIGINT) AS rx,
         CAST(SUM(dy) AS BIGINT) AS ry,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy_i,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx_i,
         CAST(SUM(dy * dy) AS BIGINT) AS syy_i
  FROM pairs GROUP BY i
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx) AS BIGINT) AS tx,
         CAST(SUM(ry) AS BIGINT) AS ty,
         CAST(SUM(sxy_i) AS BIGINT) AS sxy,
         CAST(SUM(sxx_i) AS BIGINT) AS sxx,
         CAST(SUM(syy_i) AS BIGINT) AS syy,
         CAST(SUM(rx * ry) AS BIGINT) AS srxry,
         CAST(SUM(rx * rx) AS BIGINT) AS srx2,
         CAST(SUM(ry * ry) AS BIGINT) AS sry2
  FROM per_i
), parts AS (
  SELECT n,
         CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - 2.0 * CAST(srxry AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n)
           + (CAST(tx AS DOUBLE) * ty)
             / (CAST(n AS DOUBLE) * n * n * n) AS dcov2,
         CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - 2.0 * CAST(srx2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n)
           + (CAST(tx AS DOUBLE) * tx)
             / (CAST(n AS DOUBLE) * n * n * n) AS dvarx,
         CAST(syy AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - 2.0 * CAST(sry2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n)
           + (CAST(ty AS DOUBLE) * ty)
             / (CAST(n AS DOUBLE) * n * n * n) AS dvary
  FROM m
)
SELECT n AS n_panel,
       round(dcov2, 6) AS dcov2_r,
       round(dvarx, 6) AS dvarx_r,
       round(dvary, 6) AS dvary_r,
       round(SQRT(GREATEST(dcov2, CAST(0.0 AS DOUBLE))
                  / SQRT(dvarx * dvary)), 6) AS dcor_r
FROM parts
""",
)
def a139_distance_correlation(spark, sf_dir):
    """Székely's distance correlation between account balance and
    spend on a fixed {_DCOR_PANEL}-customer panel — the dependence
    measure that is ZERO iff independent (any functional or set-
    valued relation shows up, unlike Pearson). V-statistic form:
    dCov² = S₁ − 2S₂ + S₃ with S₁ = Σd^x d^y/n², S₂ = Σᵢ rxᵢryᵢ/n³,
    S₃ = tx·ty/n⁴ — every Σ over pairs/rows is an exact BIGINT
    (dollars × thousand-dollar units keep rx²/ry² inside BIGINT at
    the 10× point), and the three normalizations are terminal
    doubles with identical expression text. The panel bounds the
    O(n²) pair stage by construction (the a129/a132 probe pattern);
    a corpus-wide dcor would use the random-projection estimator
    instead (documented)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    xy = (
        c.filter(F.col("c_custkey") < _DCOR_PANEL)
        .join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            money_units("o_totalprice", 100000).alias("y")
        )
        .select(
            "c_custkey",
            F.round("c_acctbal", 0).cast("bigint").alias("x"),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    a = xy.select(
        F.col("c_custkey").alias("i"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
    )
    b = xy.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.crossJoin(F.broadcast(b)).select(
        "i",
        F.abs(F.col("xa") - F.col("xb")).cast("bigint").alias("dx"),
        F.abs(F.col("ya") - F.col("yb")).cast("bigint").alias("dy"),
    )
    per_i = pairs.groupBy("i").agg(
        F.sum("dx").cast("bigint").alias("rx"),
        F.sum("dy").cast("bigint").alias("ry"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy_i"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx_i"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy_i"),
    )
    m = per_i.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx").cast("bigint").alias("tx"),
        F.sum("ry").cast("bigint").alias("ty"),
        F.sum("sxy_i").cast("bigint").alias("sxy"),
        F.sum("sxx_i").cast("bigint").alias("sxx"),
        F.sum("syy_i").cast("bigint").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("bigint").alias("srxry"),
        F.sum(F.col("rx") * F.col("rx")).cast("bigint").alias("srx2"),
        F.sum(F.col("ry") * F.col("ry")).cast("bigint").alias("sry2"),
    )
    nd = F.col("n").cast("double")

    def vform(s1, s2, t1, t2):
        return (
            F.col(s1).cast("double") / (nd * F.col("n"))
            - 2.0 * F.col(s2).cast("double")
            / (nd * F.col("n") * F.col("n"))
            + (F.col(t1).cast("double") * F.col(t2))
            / (nd * F.col("n") * F.col("n") * F.col("n"))
        )

    parts = m.select(
        "n",
        vform("sxy", "srxry", "tx", "ty").alias("dcov2"),
        vform("sxx", "srx2", "tx", "tx").alias("dvarx"),
        vform("syy", "sry2", "ty", "ty").alias("dvary"),
    )
    return parts.select(
        F.col("n").alias("n_panel"),
        F.round("dcov2", 6).alias("dcov2_r"),
        F.round("dvarx", 6).alias("dvarx_r"),
        F.round("dvary", 6).alias("dvary_r"),
        F.round(
            F.sqrt(
                F.greatest(F.col("dcov2"), F.lit(0.0).cast("double"))
                / F.sqrt(F.col("dvarx") * F.col("dvary"))
            ),
            6,
        ).alias("dcor_r"),
    )


@query(
    "a140_price_indexes",
    oracle="""
WITH months AS (
  SELECT CAST(l_partkey AS BIGINT) AS part,
         date_trunc('month', l_shipdate) AS mo,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), bounds AS (
  SELECT MIN(mo) AS mo0, MAX(mo) AS mo1 FROM months
), base AS (
  SELECT m.part, m.rev_cents AS r0, m.q AS q0
  FROM months m JOIN bounds b ON m.mo = b.mo0 WHERE m.q > 0
), cur AS (
  SELECT m.part, m.rev_cents AS r1, m.q AS q1
  FROM months m JOIN bounds b ON m.mo = b.mo1 WHERE m.q > 0
), matched AS (
  SELECT b.part,
         CAST(b.r0 AS DOUBLE) / b.q0 AS p0,
         CAST(c.r1 AS DOUBLE) / c.q1 AS p1,
         b.q0, c.q1, b.r0, c.r1
  FROM base b JOIN cur c ON c.part = b.part
), terms AS (
  SELECT part,
         CAST(ROUND(p1 * q0, 0) AS BIGINT) AS l_num,
         CAST(ROUND(p0 * q0, 0) AS BIGINT) AS l_den,
         CAST(ROUND(p1 * q1, 0) AS BIGINT) AS p_num,
         CAST(ROUND(p0 * q1, 0) AS BIGINT) AS p_den,
         r0, r1,
         CAST(ROUND(ln(p1 / p0) * 1000000.0, 0) AS BIGINT) AS lnr_fp
  FROM matched
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(l_num) AS BIGINT) AS ln_, CAST(SUM(l_den) AS BIGINT)
           AS ld_,
         CAST(SUM(p_num) AS BIGINT) AS pn_, CAST(SUM(p_den) AS BIGINT)
           AS pd_,
         CAST(SUM(r0) AS BIGINT) AS s0, CAST(SUM(r1) AS BIGINT) AS s1
  FROM terms
), torn AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(t.r0 AS DOUBLE) / x.s0 + CAST(t.r1 AS DOUBLE) / x.s1)
           * 0.5 * t.lnr_fp, 0) AS BIGINT)) AS BIGINT) AS tw_fp
  FROM terms t CROSS JOIN tot x
)
SELECT x.n_parts,
       round(CAST(x.ln_ AS DOUBLE) / x.ld_, 6) AS laspeyres_r,
       round(CAST(x.pn_ AS DOUBLE) / x.pd_, 6) AS paasche_r,
       round(SQRT((CAST(x.ln_ AS DOUBLE) / x.ld_)
                  * (CAST(x.pn_ AS DOUBLE) / x.pd_)), 6) AS fisher_r,
       round(EXP(CAST(t.tw_fp AS DOUBLE) / 1000000.0), 6)
         AS tornqvist_r
FROM tot x CROSS JOIN torn t
""",
)
def a140_price_indexes(spark, sf_dir):
    """Bilateral price indexes between the first and last shipment
    months over the matched part basket: Laspeyres (base-weighted),
    Paasche (current-weighted), Fisher (their geometric mean — the
    superlative index), and Törnqvist (revenue-share-weighted log
    index). Per-part unit prices are exact-integer ratios; each
    index's numerator/denominator contributions and each Törnqvist
    share×ln term are ROUNDED TO INTEGER UNITS per part before the
    cross-part fold (the order-free discipline — parts are an
    unordered group), with ln once per matched part (dimension-
    bounded). At 100 TB: one (part, month) fold, two month slices,
    one matched join."""
    li = table(spark, sf_dir, "lineitem")
    months = li.groupBy(
        F.col("l_partkey").cast("bigint").alias("part"),
        F.date_trunc("month", "l_shipdate").alias("mo"),
    ).agg(
        F.sum(money("l_extendedprice"))
        .cast("bigint").alias("rev_cents"),
        F.sum(F.round("l_quantity", 0).cast("bigint"))
        .cast("bigint").alias("q"),
    ).localCheckpoint(eager=False)
    bounds = months.agg(
        F.min("mo").alias("mo0"), F.max("mo").alias("mo1")
    )
    base = (
        months.crossJoin(F.broadcast(bounds))
        .filter((F.col("mo") == F.col("mo0")) & (F.col("q") > 0))
        .select("part", F.col("rev_cents").alias("r0"),
                F.col("q").alias("q0"))
    )
    cur = (
        months.crossJoin(F.broadcast(bounds))
        .filter((F.col("mo") == F.col("mo1")) & (F.col("q") > 0))
        .select("part", F.col("rev_cents").alias("r1"),
                F.col("q").alias("q1"))
    )
    p0 = F.col("r0").cast("double") / F.col("q0")
    p1 = F.col("r1").cast("double") / F.col("q1")
    terms = base.join(cur, "part").select(
        "part",
        F.round(p1 * F.col("q0"), 0).cast("bigint").alias("l_num"),
        F.round(p0 * F.col("q0"), 0).cast("bigint").alias("l_den"),
        F.round(p1 * F.col("q1"), 0).cast("bigint").alias("p_num"),
        F.round(p0 * F.col("q1"), 0).cast("bigint").alias("p_den"),
        "r0",
        "r1",
        money(F.log(p1 / p0), 6).alias("lnr_fp"),
    ).localCheckpoint(eager=False)
    tot = terms.agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("l_num").cast("bigint").alias("ln_"),
        F.sum("l_den").cast("bigint").alias("ld_"),
        F.sum("p_num").cast("bigint").alias("pn_"),
        F.sum("p_den").cast("bigint").alias("pd_"),
        F.sum("r0").cast("bigint").alias("s0"),
        F.sum("r1").cast("bigint").alias("s1"),
    )
    torn = terms.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                (
                    F.col("r0").cast("double") / F.col("s0")
                    + F.col("r1").cast("double") / F.col("s1")
                )
                * 0.5 * F.col("lnr_fp"),
                0,
            ).cast("bigint")
        ).cast("bigint").alias("tw_fp")
    )
    lasp = F.col("ln_").cast("double") / F.col("ld_")
    paas = F.col("pn_").cast("double") / F.col("pd_")
    return tot.crossJoin(F.broadcast(torn)).select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres_r"),
        F.round(paas, 6).alias("paasche_r"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher_r"),
        F.round(
            F.exp(F.col("tw_fp").cast("double") / 1e6), 6
        ).alias("tornqvist_r"),
    )


# Daily log-returns of revenue at 1e4 fixed point — shared by the
# volatility family; ln once per day (calendar-bounded).
_RET_SQL = """
  daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
  ), lnd AS (
    SELECT d,
           CAST(ROUND(ln(CAST(cents AS DOUBLE)) * 10000.0, 0) AS BIGINT)
             AS lnx
    FROM daily
  ), rets AS (
    SELECT d,
           CAST(lnx - LAG(lnx) OVER (ORDER BY d) AS BIGINT) AS r
    FROM lnd
    QUALIFY r IS NOT NULL
  )
"""


def _rets(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    wd = Window.orderBy("d")
    daily = daily_orders(
        o, F.sum(money("o_totalprice")).cast("bigint").alias("cents")
    )
    lnd = daily.select(
        "d",
        money(F.log(F.col("cents").cast("double")), 4).alias("lnx"),
    )
    return lnd.select(
        "d", (F.col("lnx") - F.lag("lnx").over(wd)).cast("bigint").alias("r")
    ).filter(F.col("r").isNotNull()).localCheckpoint(eager=False)


@query(
    "a141_arch_lm_test",
    oracle=f"""
WITH {_RET_SQL},
sq AS (
  SELECT CAST(r * r // 10000 AS BIGINT) AS y,
         CAST(LAG(r * r // 10000, 1) OVER (ORDER BY d) AS BIGINT) AS x1,
         CAST(LAG(r * r // 10000, 2) OVER (ORDER BY d) AS BIGINT) AS x2
  FROM rets
  QUALIFY x1 IS NOT NULL AND x2 IS NOT NULL
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1) AS BIGINT) AS s1,
         CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(y * x1) AS BIGINT) AS sy1,
         CAST(SUM(y * x2) AS BIGINT) AS sy2,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM sq
), c AS (
  SELECT n,
         CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS a11,
         CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS a12,
         CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS a22,
         CAST(sy1 AS DOUBLE) - CAST(sy AS DOUBLE) * s1 / n AS b1,
         CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * s2 / n AS b2,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS tss
  FROM m
), fit AS (
  SELECT n,
         (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
         (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta2,
         (b1 * ((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12))
          + b2 * ((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12)))
           / tss AS r2
  FROM c
)
SELECT n AS n_obs,
       round(beta1, 6) AS beta1_r,
       round(beta2, 6) AS beta2_r,
       round(r2, 6) AS r2_r,
       round(CAST(n AS DOUBLE) * r2, 6) AS arch_lm_r
FROM fit
""",
)
def a141_arch_lm_test(spark, sf_dir):
    """Engle's ARCH LM test for volatility clustering in daily
    log-returns of revenue: regress r²_t on its first two lags (the
    closed-form 2-predictor OLS off exact centered moments — the
    a013/_OLS2 discipline) and report LM = n·R², which is χ²(2) under
    homoskedasticity. Log-returns are 1e4-quantized per day (ln once
    per calendar day), squares fold at 1e4 so every cross-moment
    stays an exact BIGINT; the 2×2 normal-equation solve and R² are
    terminal doubles with identical expression text. At 100 TB: one
    date fold; everything else is O(days)."""
    rets = _rets(spark, sf_dir)
    wd = Window.orderBy("d")
    y = F.expr("CAST(r * r div 10000 AS BIGINT)")
    sq = rets.select(
        "d",
        y.alias("y"),
        F.lag(y, 1).over(wd).cast("bigint").alias("x1"),
        F.lag(y, 2).over(wd).cast("bigint").alias("x2"),
    ).filter(F.col("x1").isNotNull() & F.col("x2").isNotNull())
    m = sq.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("y") * F.col("x1")).cast("bigint").alias("sy1"),
        F.sum(F.col("y") * F.col("x2")).cast("bigint").alias("sy2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n")
    a11 = F.col("s11").cast("double") - F.col("s1").cast("double") * F.col("s1") / nd
    a12 = F.col("s12").cast("double") - F.col("s1").cast("double") * F.col("s2") / nd
    a22 = F.col("s22").cast("double") - F.col("s2").cast("double") * F.col("s2") / nd
    b1 = F.col("sy1").cast("double") - F.col("sy").cast("double") * F.col("s1") / nd
    b2 = F.col("sy2").cast("double") - F.col("sy").cast("double") * F.col("s2") / nd
    tss = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / nd
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (b2 * a11 - b1 * a12) / det
    r2 = (b1 * beta1 + b2 * beta2) / tss
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(beta1, 6).alias("beta1_r"),
        F.round(beta2, 6).alias("beta2_r"),
        F.round(r2, 6).alias("r2_r"),
        F.round(nd.cast("double") * r2, 6).alias("arch_lm_r"),
    )


@query(
    "a142_risk_metrics_panel",
    oracle=f"""
WITH {_RET_SQL},
cum AS (
  SELECT d, r,
         CAST(SUM(r) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS c
  FROM rets
), dd_t AS (
  SELECT CAST(MAX(c) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
              AS BIGINT) AS dd_t
  FROM cum
), dd AS (
  SELECT CAST(MAX(dd_t) AS BIGINT) AS max_dd FROM dd_t
), hist AS (
  SELECT CAST(r // 10 AS BIGINT) AS rb, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(r) AS BIGINT) AS sr
  FROM rets GROUP BY 1
), cumh AS (
  SELECT rb, k, sr,
         CAST(SUM(k) OVER (ORDER BY rb
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ck,
         CAST(SUM(sr) OVER (ORDER BY rb
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS csr,
         CAST(SUM(k) OVER () AS BIGINT) AS n
  FROM hist
), var_bin AS (
  SELECT MIN(rb) AS vb FROM cumh WHERE ck * 20 >= n
), tail AS (
  SELECT c.n,
         MAX(CASE WHEN c.rb = v.vb THEN c.csr END) AS tail_sum,
         MAX(CASE WHEN c.rb = v.vb THEN c.ck END) AS tail_n,
         MAX(v.vb) AS vb
  FROM cumh c CROSS JOIN var_bin v
  GROUP BY c.n
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS s,
         CAST(SUM(r * r) AS BIGINT) AS ss,
         CAST(SUM(CASE WHEN r < 0 THEN r * r ELSE 0 END) AS BIGINT)
           AS ssd,
         CAST(SUM(CASE WHEN r > 0 THEN r ELSE 0 END) AS BIGINT) AS gain,
         CAST(SUM(CASE WHEN r < 0 THEN -r ELSE 0 END) AS BIGINT) AS loss
  FROM rets
)
SELECT m.n AS n_days,
       round(CAST(m.s AS DOUBLE) / m.n / 10000.0 * 365.0, 6)
         AS ann_return_r,
       round(SQRT((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                  / (m.n - 1)) / 10000.0 * SQRT(365.0), 6) AS ann_vol_r,
       round((CAST(m.s AS DOUBLE) / m.n)
             / SQRT((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                    / (m.n - 1)) * SQRT(365.0), 6) AS sharpe_r,
       round((CAST(m.s AS DOUBLE) / m.n)
             / SQRT(CAST(m.ssd AS DOUBLE) / m.n) * SQRT(365.0), 6)
         AS sortino_r,
       round(1.0 - EXP(-CAST(d.max_dd AS DOUBLE) / 10000.0), 6)
         AS max_drawdown_r,
       round(CAST(t.vb * 10 AS DOUBLE) / 10000.0, 6) AS var95_r,
       round(CAST(t.tail_sum AS DOUBLE) / t.tail_n / 10000.0, 6)
         AS cvar95_r,
       round(CAST(m.gain AS DOUBLE) / m.loss, 6) AS omega0_r
FROM mom m CROSS JOIN dd d CROSS JOIN tail t
""",
)
def a142_risk_metrics_panel(spark, sf_dir):
    """The quantitative-risk panel on daily revenue log-returns:
    annualized return/volatility, Sharpe and Sortino (downside
    semideviation), maximum drawdown via the running-max-minus-
    current identity on EXACT cumulative fixed-point returns (the
    Lindley/CUSUM prefix trick — no sequential loop), historical
    VaR₉₅/CVaR₉₅ read off an integer-binned return histogram with
    cross-multiplied fractile thresholds, and the Ω(0) gain/loss
    ratio. Every cross-row sum is an exact BIGINT at 1e4 return
    scale; transcendentals (ln per day, one exp) are
    calendar-bounded. At 100 TB: one date fold; O(days) windows."""
    rets = _rets(spark, sf_dir)
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = rets.select(
        "d", "r", F.sum("r").over(wd).cast("bigint").alias("c")
    )
    dd = cum.select(
        (F.max("c").over(wd) - F.col("c")).cast("bigint").alias("dd_t")
    ).agg(F.max("dd_t").cast("bigint").alias("max_dd"))
    hist = rets.groupBy(
        F.expr("CAST(r div 10 AS BIGINT)").alias("rb")
    ).agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("r").cast("bigint").alias("sr"),
    )
    wrb = Window.orderBy("rb").rowsBetween(Window.unboundedPreceding, 0)
    cumh = hist.select(
        "rb",
        F.sum("k").over(wrb).cast("bigint").alias("ck"),
        F.sum("sr").over(wrb).cast("bigint").alias("csr"),
        F.sum("k").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    var_bin = cumh.filter(F.col("ck") * 20 >= F.col("n")).agg(
        F.min("rb").alias("vb")
    )
    tail = (
        cumh.crossJoin(F.broadcast(var_bin))
        .groupBy("n")
        .agg(
            F.max(
                F.when(F.col("rb") == F.col("vb"), F.col("csr"))
            ).alias("tail_sum"),
            F.max(
                F.when(F.col("rb") == F.col("vb"), F.col("ck"))
            ).alias("tail_n"),
            F.max("vb").alias("vb"),
        )
    )
    mom = rets.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("bigint").alias("s"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("ss"),
        F.sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0)
        ).cast("bigint").alias("ssd"),
        F.sum(F.when(F.col("r") > 0, F.col("r")).otherwise(0))
        .cast("bigint").alias("gain"),
        F.sum(F.when(F.col("r") < 0, -F.col("r")).otherwise(0))
        .cast("bigint").alias("loss"),
    )
    nd = F.col("n")
    mean = F.col("s").cast("double") / nd
    sd = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nd)
        / (nd - 1)
    )
    return (
        mom.crossJoin(F.broadcast(dd))
        .crossJoin(F.broadcast(tail.select("tail_sum", "tail_n", "vb")))
        .select(
            F.col("n").alias("n_days"),
            F.round(mean / 1e4 * 365.0, 6).alias("ann_return_r"),
            F.round(sd / 1e4 * F.sqrt(F.lit(365.0)), 6).alias("ann_vol_r"),
            F.round(mean / sd * F.sqrt(F.lit(365.0)), 6).alias("sharpe_r"),
            F.round(
                mean
                / F.sqrt(F.col("ssd").cast("double") / nd)
                * F.sqrt(F.lit(365.0)),
                6,
            ).alias("sortino_r"),
            F.round(
                1.0 - F.exp(-F.col("max_dd").cast("double") / 1e4), 6
            ).alias("max_drawdown_r"),
            F.round((F.col("vb") * 10).cast("double") / 1e4, 6)
            .alias("var95_r"),
            F.round(
                F.col("tail_sum").cast("double") / F.col("tail_n") / 1e4,
                6,
            ).alias("cvar95_r"),
            F.round(
                F.col("gain").cast("double") / F.col("loss"), 6
            ).alias("omega0_r"),
        )
    )


@query(
    "a143_seasonal_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         isodow(CAST(o_orderdate AS DATE)) % 7 + 1 AS dow,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), s_w AS (
  SELECT a.dow,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
           AS s,
         CAST(COUNT(DISTINCT a.d) AS BIGINT) AS n
  FROM daily a JOIN daily b ON b.dow = a.dow AND b.d > a.d
  GROUP BY a.dow
), ties AS (
  SELECT dow, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_adj
  FROM (
    SELECT dow, x, CAST(COUNT(*) AS BIGINT) AS t
    FROM daily GROUP BY dow, x
  ) GROUP BY dow
), var_w AS (
  SELECT s.dow, s.s, s.n + 1 AS n,
         (CAST((s.n + 1) AS DOUBLE) * s.n * (2 * (s.n + 1) + 5)
          - COALESCE(t.tie_adj, 0)) / 18.0 AS v
  FROM s_w s LEFT JOIN ties t ON t.dow = s.dow
), agg AS (
  SELECT CAST(SUM(s) AS BIGINT) AS s_tot, SUM(v) AS v_tot,
         CAST(COUNT(*) AS BIGINT) AS n_seasons
  FROM var_w
)
SELECT n_seasons, s_tot,
       round(v_tot, 4) AS var_tot_r,
       round((CAST(s_tot AS DOUBLE)
              - CASE WHEN s_tot > 0 THEN 1
                     WHEN s_tot < 0 THEN -1 ELSE 0 END)
             / SQRT(v_tot), 6) AS z_r
FROM agg
""",
)
def a143_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann–Kendall trend test on daily revenue with
    weekday seasons: S = Σ_w Σ_{i<j} sgn(x_j − x_i) computed WITHIN
    each weekday (so the weekly cycle can't masquerade as trend —
    the failure mode of q273's plain MK), with the exact tie-adjusted
    variance Σ n(n−1)(2n+5)/18 − Σt(t−1)(2t+5)/18 and the
    continuity-corrected z. The within-season pair join is
    calendar-bounded (≤343² pairs per weekday at any sf —
    documented); S and the tie terms are exact BIGINTs. Spark's dow
    numbering is derived as isodow%7+1 in the oracle (the q256
    gotcha). At 100 TB: one date fold, seven bounded self-joins."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o, money_units("o_totalprice", 100).alias("x")
    ).select("d", F.dayofweek("d").alias("dow"), "x").localCheckpoint(
        eager=False
    )
    b = daily.select(
        F.col("dow").alias("dowb"),
        F.col("d").alias("db"),
        F.col("x").alias("xb"),
    )
    s_w = (
        daily.join(
            b, (F.col("dowb") == F.col("dow")) & (F.col("db") > F.col("d"))
        )
        .groupBy("dow")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("x"), 1)
                .when(F.col("xb") < F.col("x"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s"),
            F.countDistinct("d").cast("bigint").alias("n"),
        )
    )
    ties = (
        daily.groupBy("dow", "x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("dow")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("bigint").alias("tie_adj")
        )
    )
    var_w = s_w.join(ties, "dow", "left").select(
        "s",
        (
            (
                (F.col("n") + 1).cast("double")
                * F.col("n")
                * (2 * (F.col("n") + 1) + 5)
                - F.coalesce(F.col("tie_adj"), F.lit(0))
            ) / 18.0
        ).alias("v"),
    )
    agg = var_w.agg(
        F.sum("s").cast("bigint").alias("s_tot"),
        F.sum("v").alias("v_tot"),
        F.count("*").cast("bigint").alias("n_seasons"),
    )
    sgn = (
        F.when(F.col("s_tot") > 0, 1)
        .when(F.col("s_tot") < 0, -1)
        .otherwise(0)
    )
    return agg.select(
        "n_seasons",
        "s_tot",
        F.round("v_tot", 4).alias("var_tot_r"),
        F.round(
            (F.col("s_tot").cast("double") - sgn) / F.sqrt(F.col("v_tot")),
            6,
        ).alias("z_r"),
    )


def _phi_inv(p: str) -> str:
    """Inverse standard normal CDF as shared SQL text — Abramowitz–
    Stegun 26.2.23 rational approximation (|ε| < 4.5e-4) for the
    upper tail, reflected for p > 0.5. Identical expression text in
    both engines (the _phi/_lf recipe); consumers feed it exact
    1-row-derived probabilities and round the result."""
    q = f"(CASE WHEN {p} < 0.5 THEN {p} ELSE 1.0 - ({p}) END)"
    t = f"SQRT(-2.0 * ln({q}))"
    core = (
        f"({t} - (2.515517 + 0.802853 * {t} + 0.010328 * {t} * {t})"
        f" / (1.0 + 1.432788 * {t} + 0.189269 * {t} * {t}"
        f" + 0.001308 * {t} * {t} * {t}))"
    )
    return f"(CASE WHEN {p} < 0.5 THEN -{core} ELSE {core} END)"


_ESD_ROUNDS = 3


@query(
    "a144_generalized_esd",
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 10000
              AS BIGINT) AS x
  FROM orders GROUP BY 1
), m0 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS ss
  FROM daily
), o1 AS MATERIALIZED (
  SELECT d.d, d.x,
         ABS(d.x - CAST(m.s AS DOUBLE) / m.n)
           / SQRT((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                  / (m.n - 1)) AS r,
         m.n
  FROM daily d CROSS JOIN m0 m
  ORDER BY ABS(d.x - CAST(m.s AS DOUBLE) / m.n) DESC, d.d ASC LIMIT 1
), m1 AS MATERIALIZED (
  SELECT m.n - 1 AS n, CAST(m.s - o.x AS BIGINT) AS s,
         CAST(m.ss - o.x * o.x AS BIGINT) AS ss
  FROM m0 m CROSS JOIN o1 o
), o2 AS MATERIALIZED (
  SELECT d.d, d.x,
         ABS(d.x - CAST(m.s AS DOUBLE) / m.n)
           / SQRT((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                  / (m.n - 1)) AS r,
         m.n
  FROM daily d CROSS JOIN m1 m
  WHERE d.d != (SELECT d FROM o1)
  ORDER BY ABS(d.x - CAST(m.s AS DOUBLE) / m.n) DESC, d.d ASC LIMIT 1
), m2 AS MATERIALIZED (
  SELECT m.n - 1 AS n, CAST(m.s - o.x AS BIGINT) AS s,
         CAST(m.ss - o.x * o.x AS BIGINT) AS ss
  FROM m1 m CROSS JOIN o2 o
), o3 AS MATERIALIZED (
  SELECT d.d, d.x,
         ABS(d.x - CAST(m.s AS DOUBLE) / m.n)
           / SQRT((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                  / (m.n - 1)) AS r,
         m.n
  FROM daily d CROSS JOIN m2 m
  WHERE d.d NOT IN (SELECT d FROM o1 UNION ALL SELECT d FROM o2)
  ORDER BY ABS(d.x - CAST(m.s AS DOUBLE) / m.n) DESC, d.d ASC LIMIT 1
), rounds AS (
  SELECT 1 AS i, d, x, r, n FROM o1
  UNION ALL SELECT 2, d, x, r, n FROM o2
  UNION ALL SELECT 3, d, x, r, n FROM o3
)
SELECT i AS round_i, d AS outlier_date, x AS value_hundreds,
       round(r, 6) AS r_stat_r,
       round((CAST(n - i AS DOUBLE)
              * {_phi_inv(f"(1.0 - 0.05 / (2.0 * (CAST(n AS DOUBLE) - i + 1)))")})
             / SQRT((CAST(n AS DOUBLE) - i - 1
                     + POWER({_phi_inv(f"(1.0 - 0.05 / (2.0 * (CAST(n AS DOUBLE) - i + 1)))")}, 2))
                    * (CAST(n AS DOUBLE) - i + 1)), 6) AS lambda_r,
       CASE WHEN r > (CAST(n - i AS DOUBLE)
              * {_phi_inv(f"(1.0 - 0.05 / (2.0 * (CAST(n AS DOUBLE) - i + 1)))")})
             / SQRT((CAST(n AS DOUBLE) - i - 1
                     + POWER({_phi_inv(f"(1.0 - 0.05 / (2.0 * (CAST(n AS DOUBLE) - i + 1)))")}, 2))
                    * (CAST(n AS DOUBLE) - i + 1))
            THEN 1 ELSE 0 END AS is_outlier
FROM rounds
ORDER BY i
""",
)
def a144_generalized_esd(spark, sf_dir):
    """Generalized extreme studentized deviate test (Rosner) for up
    to 3 outliers in the daily revenue series — the iterative Grubbs
    that stays valid under masking: each round removes the most
    studentized point and RECOMPUTES mean/sd by SUBTRACTING the
    removed value from the exact BIGINT moments (never a re-scan),
    then compares R_i against the Rosner critical value built from a
    shared A&S-26.2.23 inverse-normal text; hundred-dollar units keep
    Σx² inside BIGINT at 10x magnitudes (the a062 lesson) (the large-n t≈z form,
    documented approximation). The oracle unrolls the 3 rounds as
    MATERIALIZED CTEs; Spark runs the same loop over eagerly
    checkpointed 1-row states. At 100 TB: one fold; each round is a
    broadcast re-scan of the day summary."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o, money_units("o_totalprice", 10000).alias("x")
    ).localCheckpoint(eager=True)
    m = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss"),
    ).localCheckpoint(eager=True)
    rows = []
    remaining = daily
    for i in range(1, _ESD_ROUNDS + 1):
        mean = F.col("s").cast("double") / F.col("n")
        sd = F.sqrt(
            (
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            ) / (F.col("n") - 1)
        )
        cand = (
            remaining.crossJoin(F.broadcast(m))
            .select(
                "d",
                "x",
                (F.abs(F.col("x") - mean) / sd).alias("r"),
                "n",
            )
            .orderBy(F.col("r").desc(), F.col("d").asc())
            .limit(1)
            .localCheckpoint(eager=True)
        )
        rows.append(cand.withColumn("i", F.lit(i).cast("bigint")))
        picked = cand.select("d", "x")
        remaining = remaining.join(picked.select("d"), "d", "left_anti")
        m = (
            m.crossJoin(F.broadcast(picked.select(F.col("x").alias("rx"))))
            .select(
                (F.col("n") - 1).cast("bigint").alias("n"),
                (F.col("s") - F.col("rx")).cast("bigint").alias("s"),
                (F.col("ss") - F.col("rx") * F.col("rx"))
                .cast("bigint").alias("ss"),
            )
            .localCheckpoint(eager=True)
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    pinv = _phi_inv(
        "(1.0 - 0.05 / (2.0 * (CAST(n AS DOUBLE) - i + 1)))"
    )
    lam = F.expr(
        f"(CAST(n - i AS DOUBLE) * {pinv})"
        f" / SQRT((CAST(n AS DOUBLE) - i - 1 + POWER({pinv}, 2))"
        f" * (CAST(n AS DOUBLE) - i + 1))"
    )
    return out.select(
        F.col("i").alias("round_i"),
        F.col("d").alias("outlier_date"),
        F.col("x").alias("value_hundreds"),
        F.round("r", 6).alias("r_stat_r"),
        F.round(lam, 6).alias("lambda_r"),
        F.when(F.col("r") > lam, 1).otherwise(0).alias("is_outlier"),
    ).orderBy("round_i")


# Shapley structure for 4 channels: for each channel i and each
# coalition S (bitmask) not containing i, the marginal pair
# (S, S|i) enters channel i's value with weight |S|!(3-|S|)!/4!
# — 24x-scaled to stay integer. Python-generated literals, both plans.
_SHAP_CHANNELS = ("click", "view", "signup", "error")


def _shap_terms():
    import math as _m

    rows = []
    k = len(_SHAP_CHANNELS)
    for i in range(k):
        for s in range(1 << k):
            if s & (1 << i):
                continue
            sz = bin(s).count("1")
            w = _m.factorial(sz) * _m.factorial(k - 1 - sz)
            rows.append((i, s, s | (1 << i), w))
    return rows


_SHAP_TERMS = _shap_terms()
_SHAP_TERM_VALUES = ", ".join(
    f"({i}, {s}, {si}, {w})" for i, s, si, w in _SHAP_TERMS
)
_SHAP_SUBSETS = ", ".join(
    f"({a}, {b})"
    for a in range(16)
    for b in range(16)
    if (a & b) == a  # a is a subset of b
)


@query(
    "a145_shapley_attribution",
    oracle=f"""
WITH terms(ch, s_lo, s_hi, w) AS (VALUES {_SHAP_TERM_VALUES}),
subsets(sub, sup) AS (VALUES {_SHAP_SUBSETS}),
u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS c3,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END) >= 14 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
), med AS (
  SELECT
    (SELECT MIN(v) FROM (
       SELECT c0 AS v,
              CAST(ROW_NUMBER() OVER (ORDER BY c0) AS BIGINT) AS rn,
              CAST(COUNT(*) OVER () AS BIGINT) AS n FROM u)
     WHERE rn * 2 >= n) AS m0,
    (SELECT MIN(v) FROM (
       SELECT c1 AS v,
              CAST(ROW_NUMBER() OVER (ORDER BY c1) AS BIGINT) AS rn,
              CAST(COUNT(*) OVER () AS BIGINT) AS n FROM u)
     WHERE rn * 2 >= n) AS m1,
    (SELECT MIN(v) FROM (
       SELECT c2 AS v,
              CAST(ROW_NUMBER() OVER (ORDER BY c2) AS BIGINT) AS rn,
              CAST(COUNT(*) OVER () AS BIGINT) AS n FROM u)
     WHERE rn * 2 >= n) AS m2,
    (SELECT MIN(v) FROM (
       SELECT c3 AS v,
              CAST(ROW_NUMBER() OVER (ORDER BY c3) AS BIGINT) AS rn,
              CAST(COUNT(*) OVER () AS BIGINT) AS n FROM u)
     WHERE rn * 2 >= n) AS m3
), cells AS (
  SELECT CAST(
           CASE WHEN u.c0 >= m.m0 THEN 1 ELSE 0 END
           + CASE WHEN u.c1 >= m.m1 THEN 2 ELSE 0 END
           + CASE WHEN u.c2 >= m.m2 THEN 4 ELSE 0 END
           + CASE WHEN u.c3 >= m.m3 THEN 8 ELSE 0 END AS BIGINT)
           AS mask,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(u.conv) AS BIGINT) AS k
  FROM u CROSS JOIN med m
  GROUP BY 1
), v AS (
  SELECT s.sup AS mask,
         CAST(COALESCE(SUM(c.n), 0) AS BIGINT) AS n_sub,
         CAST(COALESCE(SUM(c.k), 0) AS BIGINT) AS k_sub
  FROM subsets s LEFT JOIN cells c ON c.mask = s.sub
  GROUP BY s.sup
), vr AS (
  SELECT mask,
         CASE WHEN n_sub > 0
              THEN CAST(k_sub AS DOUBLE) / n_sub ELSE 0.0 END AS vv
  FROM v
), phi AS (
  SELECT t.ch,
         SUM(CAST(t.w AS DOUBLE)
             * (hi.vv - lo.vv)) / 24.0 AS phi
  FROM terms t
  JOIN vr hi ON hi.mask = t.s_hi
  JOIN vr lo ON lo.mask = t.s_lo
  GROUP BY t.ch
)
SELECT CASE ch WHEN 0 THEN 'click' WHEN 1 THEN 'view'
               WHEN 2 THEN 'signup' ELSE 'error' END AS channel,
       round(phi, 6) AS shapley_r
FROM phi
ORDER BY channel
""",
)
def a145_shapley_attribution(spark, sf_dir):
    """Exact Shapley-value channel attribution for heavy-purchaser
    conversion over 4 engagement channels: a user's coalition is the
    set of channels where their activity clears that channel's
    median (depth thresholds — this fixture's users touch every type,
    the a412 lesson), the coalition value v(S) is the conversion rate
    of users whose exposure set is CONTAINED in S (monotone, defined
    for all 16 masks via the literal subset lattice), and φ_i sums
    the 8 weighted marginals per channel from the Python-generated
    (S, S∪{i}, |S|!(3−|S|)!) term table — EXACT Shapley, no sampling,
    because the channel set is small while the corpus is not.
    Efficiency (Σφ = v(full) − v(∅)) is a property-test pin. At
    100 TB: one user fold; everything after is 16-row lattice math."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        *[
            F.sum(
                F.when(F.col("event_type") == ch, 1).otherwise(0)
            ).cast("bigint").alias(f"c{j}")
            for j, ch in enumerate(_SHAP_CHANNELS)
        ],
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ) >= 14,
            1,
        ).otherwise(0).alias("conv"),
    ).localCheckpoint(eager=False)
    meds = []
    for j in range(4):
        wj = Window.orderBy(f"c{j}")
        med_j = (
            u.select(
                F.col(f"c{j}").alias("v"),
                F.row_number().over(wj).cast("bigint").alias("rn"),
                F.count("*").over(Window.partitionBy())
                .cast("bigint").alias("n"),
            )
            .filter(F.col("rn") * 2 >= F.col("n"))
            .agg(F.min("v").alias(f"m{j}"))
        )
        meds.append(med_j)
    med = meds[0]
    for mj in meds[1:]:
        med = med.crossJoin(F.broadcast(mj))
    mask = (
        F.when(F.col("c0") >= F.col("m0"), 1).otherwise(0)
        + F.when(F.col("c1") >= F.col("m1"), 2).otherwise(0)
        + F.when(F.col("c2") >= F.col("m2"), 4).otherwise(0)
        + F.when(F.col("c3") >= F.col("m3"), 8).otherwise(0)
    ).cast("bigint")
    cells = (
        u.crossJoin(F.broadcast(med))
        .groupBy(mask.alias("mask"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("k"),
        )
    )
    subsets = literal_frame(
        spark,
        [(a, b) for a in range(16) for b in range(16) if (a & b) == a],
        "sub bigint, sup bigint",
    )
    v = (
        subsets.join(cells, subsets.sub == cells.mask, "left")
        .groupBy("sup")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_sub"),
            F.coalesce(F.sum("k"), F.lit(0)).cast("bigint").alias("k_sub"),
        )
        .select(
            F.col("sup").alias("mask"),
            F.when(
                F.col("n_sub") > 0,
                F.col("k_sub").cast("double") / F.col("n_sub"),
            ).otherwise(F.lit(0.0)).alias("vv"),
        )
    )
    terms = literal_frame(
        spark,
        _SHAP_TERMS, "ch bigint, s_lo bigint, s_hi bigint, w bigint"
    )
    phi = (
        terms.join(
            v.select(F.col("mask").alias("s_hi"), F.col("vv").alias("v_hi")),
            "s_hi",
        )
        .join(
            v.select(F.col("mask").alias("s_lo"), F.col("vv").alias("v_lo")),
            "s_lo",
        )
        .groupBy("ch")
        .agg(
            (
                F.sum(
                    F.col("w").cast("double")
                    * (F.col("v_hi") - F.col("v_lo"))
                ) / 24.0
            ).alias("phi")
        )
    )
    return phi.select(
        F.when(F.col("ch") == 0, "click")
        .when(F.col("ch") == 1, "view")
        .when(F.col("ch") == 2, "signup")
        .otherwise("error").alias("channel"),
        F.round("phi", 6).alias("shapley_r"),
    ).orderBy("channel")
