"""Round-10 battery (a208–a241): robust/local regression (Siegel
repeated medians, quantized-tricube LOESS, hinge trend, RANSAC),
density estimation, SPC capability, epidemiology-style rate
standardization, shrinkage, event studies, forecast skill scores,
insurance chain-ladder, supply-chain bullwhip, scheduling dispatch
rules, M/G/1 queueing, spatial Ripley K, actuarial life tables, and —
for the LLM-pipeline surface — an AMS F2 sketch audit, rendezvous
(HRW) sharding, an l-diversity/t-closeness privacy audit, a planted
twin embedding-alignment audit, and a dedup scaling curve. The
a232-a241 extension adds external dedup-cluster evaluation (B-cubed,
V-measure), a calibration significance test, uneven-sampling spectral
analysis, adstock, rank dispersion, AFT survival fitting, randomness
and variance-break tests, and renewal analysis.

Named a208+ so the battery sorts OUTSIDE the round-10 driver-sampler
window (the first-50 window ends at a128; see queries/aliases.py).
Shared design rules (the monitoring.py discipline): ONE
map-side-combined aggregate folds the corpus to a keyed summary; every
cross-row sum is an exact BIGINT (fixed-point where the source is a
double); transcendentals run once per group/bin/scalar on identical
exact inputs and feed a terminal ``round(x, 6)``; pairwise self-joins
only over calendar-bounded or hash-bounded panels.

Reference parity target: junegunn/grouper exposes no statistics
surface (src/grouper/core.clj is a 155-line micro-batching utility);
these extend the engine's analytics coverage for pipeline monitoring
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import money_units
from ..sources import table
from ._cohorts import churn_panel, recency_score
from ._series import adaptive_unit, daily_orders, unit_scaled
from . import query
from .inference4 import _DAILYV_SQL, _DAILYVK_SQL
from ..operators.core import collect_bounded, literal_frame


@query(
    "a208_siegel_repeated_medians",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
pan AS (
  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i FROM daily
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pan
), sl AS (
  SELECT a.i AS i, b.i AS j,
         CAST(b.v - a.v AS DOUBLE) / (b.i - a.i) AS s
  FROM pan a JOIN pan b ON a.i <> b.i
), ranked AS (
  SELECT i, s, ROW_NUMBER() OVER (PARTITION BY i ORDER BY s, j) AS rn
  FROM sl
), med_i AS (
  SELECT r.i,
         CASE WHEN (sc.n - 1) % 2 = 1
              THEN MAX(CASE WHEN r.rn = sc.n // 2 THEN r.s END)
              ELSE (MAX(CASE WHEN r.rn = (sc.n - 1) // 2 THEN r.s END)
                    + MAX(CASE WHEN r.rn = (sc.n - 1) // 2 + 1
                          THEN r.s END)) / 2.0
         END AS m
  FROM ranked r CROSS JOIN scal sc
  GROUP BY r.i, sc.n
), mr AS (
  SELECT m, i, ROW_NUMBER() OVER (ORDER BY m, i) AS rn FROM med_i
), slope AS (
  SELECT CASE WHEN sc.n % 2 = 1
              THEN MAX(CASE WHEN mr.rn = (sc.n + 1) // 2 THEN mr.m END)
              ELSE (MAX(CASE WHEN mr.rn = sc.n // 2 THEN mr.m END)
                    + MAX(CASE WHEN mr.rn = sc.n // 2 + 1 THEN mr.m END))
                   / 2.0
         END AS b, sc.n AS n
  FROM mr CROSS JOIN scal sc GROUP BY sc.n
), resid AS (
  SELECT p.v - s.b * p.i AS r, p.i,
         ROW_NUMBER() OVER (ORDER BY p.v - s.b * p.i, p.i) AS rn
  FROM pan p CROSS JOIN slope s
)
SELECT s.n,
       ROUND(s.b, 6) AS slope_r,
       ROUND(CASE WHEN s.n % 2 = 1
                  THEN MAX(CASE WHEN r.rn = (s.n + 1) // 2 THEN r.r END)
                  ELSE (MAX(CASE WHEN r.rn = s.n // 2 THEN r.r END)
                        + MAX(CASE WHEN r.rn = s.n // 2 + 1 THEN r.r END))
                       / 2.0
             END, 6) AS intercept_r
FROM resid r CROSS JOIN slope s
GROUP BY s.n, s.b
""",
    tags=("inference", "robust-regression"),
)
def a208_siegel_repeated_medians(spark, sf_dir):
    """Siegel repeated-median regression of daily order volume on time:
    slope = median_i( median_{j != i} (v_j - v_i)/(j - i) ), intercept =
    median_i(v_i - b*i) — the 50%-breakdown-point robust line (Theil–Sen
    a565 breaks down at 29%). The pair stage lives on the
    calendar-bounded day panel (<= 2404² pairs at ANY corpus scale);
    each pairwise slope is one exact-integer-ratio double; all medians
    are explicit order statistics (never an engine median), so both
    engines pick the identical element. Because the panel is
    calendar-bounded, the whole estimator after the one orders groupBy
    runs DRIVER-SIDE on the panel collected through ``collect_bounded``
    (the a191 recipe): the (n×n) slope matrix, the per-row and global
    median picks and the residual median are numpy float64 ops
    replicating the oracle's expressions op-for-op (int64 subtraction,
    int→double conversion, one IEEE division per pair, (lo+hi)/2.0),
    and VALUES at rank positions depend only on sorted order, so ties
    need no (s, j) tie-breaking. Terminal round(_, 6) stays
    engine-side on the literal frame. A panel over
    ``_SIEGEL_MAX_PANEL`` days raises; a panel of fewer than 2 days
    has no slope and gives 0 rows, as in the oracle."""
    import numpy as np

    rows = collect_bounded(
        daily_orders(
            table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
        ).localCheckpoint(eager=False),
        _SIEGEL_MAX_PANEL,
        "a208_siegel_repeated_medians day panel",
    )
    out_rows = []
    n = len(rows)
    if n >= 2:
        rows.sort(key=lambda r: r["d"])
        v = np.array([r["v"] for r in rows], dtype=np.int64)
        idx = np.arange(1, n + 1, dtype=np.int64)
        num = (v[None, :] - v[:, None]).astype(np.float64)
        den = (idx[None, :] - idx[:, None]).astype(np.float64)
        np.fill_diagonal(den, 1.0)  # dummy; diagonal excluded below
        s = num / den
        np.fill_diagonal(s, np.inf)  # sorts last, then dropped
        srt = np.sort(s, axis=1)[:, : n - 1]  # the n-1 slopes per i
        k = n - 1
        if k % 2 == 1:
            m = srt[:, n // 2 - 1]
        else:
            m = (srt[:, k // 2 - 1] + srt[:, k // 2]) / 2.0
        ms = np.sort(m)
        if n % 2 == 1:
            b = float(ms[(n + 1) // 2 - 1])
        else:
            b = float((ms[n // 2 - 1] + ms[n // 2]) / 2.0)
        r = v.astype(np.float64) - np.float64(b) * idx.astype(np.float64)
        rs = np.sort(r)
        if n % 2 == 1:
            a_val = float(rs[(n + 1) // 2 - 1])
        else:
            a_val = float((rs[n // 2 - 1] + rs[n // 2]) / 2.0)
        out_rows.append((n, b, a_val))
    return literal_frame(
        spark, out_rows, "n bigint, b double, a double"
    ).select(
        "n",
        F.round("b", 6).alias("slope_r"),
        F.round("a", 6).alias("intercept_r"),
    )


# driver-side panel bound for a208: 4000 days ≈ 128 MB per (n×n)
# float64 matrix, and num/den/s plus the np.sort copy are live
# simultaneously, so peak transient memory at the bound is ~4 matrices
# ≈ 0.5 GB — comfortably inside the driver. The fixture calendar is
# ~2404 days at every sf, and a longer panel raises
_SIEGEL_MAX_PANEL = 4000


@query(
    "a211_process_capability",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
mrp AS (
  SELECT v, ABS(v - LAG(v) OVER (ORDER BY d)) AS mr FROM daily
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(v * v) AS BIGINT) AS svv,
         CAST(SUM(mr) AS BIGINT) AS smr
  FROM mrp
), lim AS (
  SELECT n, sv, svv, smr,
         CAST(sv // (2 * n) AS BIGINT) AS lsl,
         CAST((3 * sv) // (2 * n) AS BIGINT) AS usl,
         CAST(sv AS DOUBLE) / n AS mu,
         SQRT(CAST(n * svv - sv * sv AS DOUBLE) / (CAST(n AS DOUBLE)
              * (n - 1))) AS sig_o,
         (CAST(smr AS DOUBLE) / (n - 1)) / CAST(1.128 AS DOUBLE) AS sig_w
  FROM s
)
SELECT n, lsl, usl, ROUND(mu, 6) AS mu_r,
       ROUND(sig_w, 6) AS sigma_within_r,
       ROUND(sig_o, 6) AS sigma_overall_r,
       ROUND(CASE WHEN smr = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (usl - lsl) / (6 * sig_w) END, 6) AS cp_r,
       ROUND(CASE WHEN smr = 0 THEN CAST(0 AS DOUBLE)
                  ELSE LEAST(usl - mu, mu - lsl) / (3 * sig_w)
             END, 6) AS cpk_r,
       ROUND((usl - lsl) / (6 * sig_o), 6) AS pp_r,
       ROUND(LEAST(usl - mu, mu - lsl) / (3 * sig_o), 6) AS ppk_r
FROM lim
""",
    tags=("inference", "spc"),
)
def a211_process_capability(spark, sf_dir):
    """Process capability indices (Cp/Cpk from within-subgroup sigma,
    Pp/Ppk from overall sigma) for daily order volume against spec
    limits [mu/2, 3mu/2] (exact integer floors of the grand mean).
    Within-sigma is the individuals-chart estimator MRbar/d2 (d2 =
    1.128 for moving ranges of 2), the SPC companion to the p-chart
    (q338) and Western Electric rules (a427) this battery family
    already has — capability answers 'does the process fit the spec',
    not 'is it in control'. All moments are exact BIGINTs over the
    calendar-bounded day panel; two sqrt calls run once on exact
    integers; degenerate zero-moving-range fixtures emit 0 (guard on
    both engines)."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    mrp = daily.select(
        "v",
        F.abs(F.col("v") - F.lag("v").over(Window.orderBy("d"))).alias("mr"),
    )
    s = mrp.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("svv"),
        F.sum("mr").cast("bigint").alias("smr"),
    )
    lim = s.select(
        "n",
        "sv",
        "svv",
        "smr",
        F.expr("CAST(sv div (2 * n) AS BIGINT)").alias("lsl"),
        F.expr("CAST((3 * sv) div (2 * n) AS BIGINT)").alias("usl"),
        F.expr("CAST(sv AS DOUBLE) / n").alias("mu"),
        F.expr(
            "SQRT(CAST(n * svv - sv * sv AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * (n - 1)))"
        ).alias("sig_o"),
        F.expr(
            "(CAST(smr AS DOUBLE) / (n - 1)) / CAST(1.128 AS DOUBLE)"
        ).alias("sig_w"),
    )
    return lim.select(
        "n",
        "lsl",
        "usl",
        F.round("mu", 6).alias("mu_r"),
        F.round("sig_w", 6).alias("sigma_within_r"),
        F.round("sig_o", 6).alias("sigma_overall_r"),
        F.round(
            F.expr(
                "CASE WHEN smr = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE (usl - lsl) / (6 * sig_w) END"
            ),
            6,
        ).alias("cp_r"),
        F.round(
            F.expr(
                "CASE WHEN smr = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE LEAST(usl - mu, mu - lsl) / (3 * sig_w) END"
            ),
            6,
        ).alias("cpk_r"),
        F.round(F.expr("(usl - lsl) / (6 * sig_o)"), 6).alias("pp_r"),
        F.round(
            F.expr("LEAST(usl - mu, mu - lsl) / (3 * sig_o)"), 6
        ).alias("ppk_r"),
    )


@query(
    "a215_hinge_trend",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
pan AS (
  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY d) - 1 AS BIGINT) AS t
  FROM daily
), kk AS (
  SELECT CAST(MAX(t) // 2 AS BIGINT) AS k FROM pan
), feat AS (
  SELECT p.v, p.t,
         CASE WHEN p.t > kk.k THEN p.t - kk.k ELSE 0 END AS h,
         kk.k
  FROM pan p CROSS JOIN kk
), s AS (
  SELECT MAX(k) AS k,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(h) AS BIGINT) AS sh,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * h) AS BIGINT) AS sth,
         CAST(SUM(h * h) AS BIGINT) AS shh,
         CAST(SUM(t * v) AS BIGINT) AS stv,
         CAST(SUM(h * v) AS BIGINT) AS shv,
         CAST(SUM(v * v) AS BIGINT) AS svv
  FROM feat
), m AS (
  SELECT k, n,
         CAST(n AS DOUBLE) AS a11, CAST(st AS DOUBLE) AS a12,
         CAST(sh AS DOUBLE) AS a13, CAST(stt AS DOUBLE) AS a22,
         CAST(sth AS DOUBLE) AS a23, CAST(shh AS DOUBLE) AS a33,
         CAST(sv AS DOUBLE) AS y1, CAST(stv AS DOUBLE) AS y2,
         CAST(shv AS DOUBLE) AS y3, CAST(svv AS DOUBLE) AS syy
  FROM s
), det AS (
  SELECT k, n, y1, y2, y3, syy, a11, a12, a13, a22, a23, a33,
         a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
           + a13 * (a12 * a23 - a22 * a13) AS dd
  FROM m
), coef AS (
  SELECT k, n, y1, y2, y3, syy, a11,
         (y1 * (a22 * a33 - a23 * a23) - a12 * (y2 * a33 - a23 * y3)
            + a13 * (y2 * a23 - a22 * y3)) / dd AS b0,
         (a11 * (y2 * a33 - a23 * y3) - y1 * (a12 * a33 - a23 * a13)
            + a13 * (a12 * y3 - y2 * a13)) / dd AS b1,
         (a11 * (a22 * y3 - y2 * a23) - a12 * (a12 * y3 - y2 * a13)
            + y1 * (a12 * a23 - a22 * a13)) / dd AS b2
  FROM det
)
SELECT n, k,
       ROUND(b0, 6) AS b0_r, ROUND(b1, 6) AS slope_pre_r,
       ROUND(b1 + b2, 6) AS slope_post_r, ROUND(b2, 6) AS slope_change_r,
       ROUND(1 - (syy - b0 * y1 - b1 * y2 - b2 * y3)
                 / (syy - y1 * y1 / a11), 6) AS r2_r
FROM coef
""",
    tags=("inference", "regression", "timeseries"),
)
def a215_hinge_trend(spark, sf_dir):
    """Continuous piecewise-linear (hinge) trend of daily order volume
    with one knot at the calendar midpoint: v = b0 + b1*t + b2*(t-k)+ .
    Unlike the Chow test (a481, which fits two DISCONNECTED segments
    and asks 'did the coefficients change?') or binary segmentation
    (a358, which finds the breakpoint), this fits the prophet-style
    continuous trend and reports the slope change at the knot. The
    hinge feature is an exact integer, so the 3x3 normal equations are
    built from exact BIGINT moments and solved in closed form (Cramer's
    rule) with doubles only at the terminal scalar stage; R^2 comes
    from the regression identity SSE = Syy - b'X'y."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    pan = daily.select(
        "v",
        (F.row_number().over(Window.orderBy("d")) - 1)
        .cast("bigint")
        .alias("t"),
    )
    kk = pan.agg(F.expr("CAST(MAX(t) div 2 AS BIGINT)").alias("k"))
    feat = pan.crossJoin(F.broadcast(kk)).select(
        "v",
        "t",
        F.expr("CASE WHEN t > k THEN t - k ELSE CAST(0 AS BIGINT) END").alias(
            "h"
        ),
        "k",
    )
    s = feat.agg(
        F.max("k").alias("k"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("h").cast("bigint").alias("sh"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum(F.col("t") * F.col("h")).cast("bigint").alias("sth"),
        F.sum(F.col("h") * F.col("h")).cast("bigint").alias("shh"),
        F.sum(F.col("t") * F.col("v")).cast("bigint").alias("stv"),
        F.sum(F.col("h") * F.col("v")).cast("bigint").alias("shv"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("svv"),
    )
    m = s.select(
        "k",
        "n",
        F.expr("CAST(n AS DOUBLE)").alias("a11"),
        F.expr("CAST(st AS DOUBLE)").alias("a12"),
        F.expr("CAST(sh AS DOUBLE)").alias("a13"),
        F.expr("CAST(stt AS DOUBLE)").alias("a22"),
        F.expr("CAST(sth AS DOUBLE)").alias("a23"),
        F.expr("CAST(shh AS DOUBLE)").alias("a33"),
        F.expr("CAST(sv AS DOUBLE)").alias("y1"),
        F.expr("CAST(stv AS DOUBLE)").alias("y2"),
        F.expr("CAST(shv AS DOUBLE)").alias("y3"),
        F.expr("CAST(svv AS DOUBLE)").alias("syy"),
    )
    det = m.withColumn(
        "dd",
        F.expr(
            "a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)"
            " + a13 * (a12 * a23 - a22 * a13)"
        ),
    )
    coef = det.select(
        "k",
        "n",
        "y1",
        "y2",
        "y3",
        "syy",
        "a11",
        F.expr(
            "(y1 * (a22 * a33 - a23 * a23) - a12 * (y2 * a33 - a23 * y3)"
            " + a13 * (y2 * a23 - a22 * y3)) / dd"
        ).alias("b0"),
        F.expr(
            "(a11 * (y2 * a33 - a23 * y3) - y1 * (a12 * a33 - a23 * a13)"
            " + a13 * (a12 * y3 - y2 * a13)) / dd"
        ).alias("b1"),
        F.expr(
            "(a11 * (a22 * y3 - y2 * a23) - a12 * (a12 * y3 - y2 * a13)"
            " + y1 * (a12 * a23 - a22 * a13)) / dd"
        ).alias("b2"),
    )
    return coef.select(
        "n",
        "k",
        F.round("b0", 6).alias("b0_r"),
        F.round("b1", 6).alias("slope_pre_r"),
        F.round(F.col("b1") + F.col("b2"), 6).alias("slope_post_r"),
        F.round("b2", 6).alias("slope_change_r"),
        F.round(
            F.expr(
                "1 - (syy - b0 * y1 - b1 * y2 - b2 * y3)"
                " / (syy - y1 * y1 / a11)"
            ),
            6,
        ).alias("r2_r"),
    )


@query(
    "a224_heidke_peirce_skill",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
dirs AS (
  SELECT d,
         CASE WHEN v - LAG(v) OVER (ORDER BY d) > 0 THEN 1 ELSE 0 END
           AS up,
         LAG(v) OVER (ORDER BY d) AS vl
  FROM daily
), fa AS (
  SELECT LAG(up) OVER (ORDER BY d) AS f, up AS a
  FROM dirs WHERE vl IS NOT NULL
), cm AS (
  SELECT CAST(SUM(CASE WHEN f = 1 AND a = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS tp,
         CAST(SUM(CASE WHEN f = 1 AND a = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS fp,
         CAST(SUM(CASE WHEN f = 0 AND a = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS fn,
         CAST(SUM(CASE WHEN f = 0 AND a = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS tn
  FROM fa WHERE f IS NOT NULL
)
SELECT tp, fp, fn, tn,
       ROUND(CAST(2 * (tp * tn - fp * fn) AS DOUBLE)
             / CAST((tp + fn) * (fn + tn) + (tp + fp) * (fp + tn)
                    AS DOUBLE), 6) AS hss_r,
       ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
             / CAST((tp + fn) * (fp + tn) AS DOUBLE), 6) AS pss_r,
       ROUND((CAST(tp AS DOUBLE) / (tp + fn)
              + CAST(tn AS DOUBLE) / (fp + tn)) / 2, 6)
         AS balanced_acc_r,
       ROUND((tp - CAST((tp + fp) * (tp + fn) AS DOUBLE)
                   / (tp + fp + fn + tn))
             / (tp + fp + fn - CAST((tp + fp) * (tp + fn) AS DOUBLE)
                               / (tp + fp + fn + tn)), 6) AS gss_r
FROM cm
""",
    tags=("inference", "forecast-eval"),
)
def a224_heidke_peirce_skill(spark, sf_dir):
    """Categorical forecast-verification skill scores for the
    persistence forecast 'tomorrow moves the way today moved' on daily
    order volume: Heidke (HSS, chance-corrected accuracy), Peirce
    (PSS/true skill statistic, hit rate minus false-alarm rate),
    Gilbert (GSS/equitable threat score) and balanced accuracy from the
    exact 2x2 contingency table. These are the meteorology-standard
    complements to MCC (a525) and Cohen's kappa (a352): PSS is
    base-rate-free, GSS discounts chance hits. The direction pairs are
    two window lags over the bounded day panel; everything downstream
    is exact BIGINT cross-multiplication with terminal round(,6).
    Zero-diff days count as 'down' (documented tie rule)."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    w = Window.orderBy("d")
    dirs = daily.select(
        F.expr(
            "CASE WHEN v - LAG(v) OVER (ORDER BY d) > 0 THEN 1 ELSE 0 END"
        ).alias("up"),
        F.lag("v").over(w).alias("vl"),
        F.col("d"),
    ).filter(F.col("vl").isNotNull())
    fa = dirs.select(
        F.lag("up").over(Window.orderBy("d")).alias("f"),
        F.col("up").alias("a"),
    ).filter(F.col("f").isNotNull())
    cm = fa.agg(
        F.sum(F.expr("CASE WHEN f = 1 AND a = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.expr("CASE WHEN f = 1 AND a = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.expr("CASE WHEN f = 0 AND a = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.expr("CASE WHEN f = 0 AND a = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tn"),
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.expr(
                "CAST(2 * (tp * tn - fp * fn) AS DOUBLE)"
                " / CAST((tp + fn) * (fn + tn) + (tp + fp) * (fp + tn)"
                " AS DOUBLE)"
            ),
            6,
        ).alias("hss_r"),
        F.round(
            F.expr(
                "CAST(tp * tn - fp * fn AS DOUBLE)"
                " / CAST((tp + fn) * (fp + tn) AS DOUBLE)"
            ),
            6,
        ).alias("pss_r"),
        F.round(
            F.expr(
                "(CAST(tp AS DOUBLE) / (tp + fn)"
                " + CAST(tn AS DOUBLE) / (fp + tn)) / 2"
            ),
            6,
        ).alias("balanced_acc_r"),
        F.round(
            F.expr(
                "(tp - CAST((tp + fp) * (tp + fn) AS DOUBLE)"
                " / (tp + fp + fn + tn))"
                " / (tp + fp + fn - CAST((tp + fp) * (tp + fn) AS DOUBLE)"
                " / (tp + fp + fn + tn))"
            ),
            6,
        ).alias("gss_r"),
    )


@query(
    "a209_loess_grid",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
pan AS (
  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
  FROM daily
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         GREATEST(CAST(1 AS BIGINT), CAST(COUNT(*) // 4 AS BIGINT)) AS h
  FROM pan
), grid AS (
  SELECT CAST(g AS BIGINT) AS g,
         1 + (CAST(g AS BIGINT) * (n - 1)) // 23 AS tg, n, h
  FROM scal, UNNEST(generate_series(0, 23)) AS u(g)
), wt AS (
  SELECT gr.g, gr.tg, gr.n, gr.h,
         p.t - gr.tg AS u,
         ((gr.h * gr.h * gr.h
           - ABS(p.t - gr.tg) * ABS(p.t - gr.tg) * ABS(p.t - gr.tg))
          * 100) // (gr.h * gr.h * gr.h) AS q,
         p.v
  FROM grid gr JOIN pan p ON ABS(p.t - gr.tg) <= gr.h
), sums AS (
  SELECT g, tg, MAX(n) AS n, MAX(h) AS h,
         CAST(SUM(q * q * q) AS BIGINT) AS s0,
         CAST(SUM(q * q * q * u) AS BIGINT) AS s1,
         CAST(SUM(q * q * q * u * u) AS BIGINT) AS s2,
         CAST(SUM(q * q * q * v) AS BIGINT) AS t0,
         CAST(SUM(q * q * q * u * v) AS BIGINT) AS t1
  FROM wt GROUP BY g, tg
)
SELECT g, tg, n, h,
       ROUND((CAST(s2 AS DOUBLE) * t0 - CAST(s1 AS DOUBLE) * t1)
             / (CAST(s0 AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1), 6)
         AS fit_r
FROM sums
ORDER BY g
""",
    tags=("inference", "regression", "timeseries"),
)
def a209_loess_grid(spark, sf_dir):
    """LOESS (locally weighted linear regression) of daily order volume
    evaluated at 24 evenly spaced calendar points with a quantized
    tricube kernel: q = floor(100*(1-(|dt|/h)^3)) cubed, h = n/4 days.
    Quantizing the tricube to an integer in [0,100]^3 makes every
    weighted moment an exact BIGINT (the engine's fixed-point
    discipline: a float tricube would need order-dependent double
    sums), and the common h^9 denominator cancels inside the
    weighted-least-squares ratio. Each eval point solves the 2x2 local
    normal equations in closed form from five exact sums; the day
    panel is calendar-bounded so the grid x panel fan-out is <= 24 x
    2404 rows at ANY corpus scale. Headroom: wq*u*v <= 1e6*600*v stays
    inside int64 through sf1e4 daily volumes."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    pan = daily.select(
        "v",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    ).localCheckpoint(eager=False)
    scal = pan.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT), CAST(COUNT(*) div 4 AS BIGINT))"
        ).alias("h"),
    )
    grid = scal.select(
        F.explode(F.sequence(F.lit(0), F.lit(23))).alias("g"),
        "n",
        "h",
    ).select(
        F.col("g").cast("bigint").alias("g"),
        (F.lit(1) + (F.col("g").cast("bigint") * (F.col("n") - 1))
         .cast("bigint") / F.lit(1)).alias("_gx"),
        F.expr("1 + (CAST(g AS BIGINT) * (n - 1)) div 23").alias("tg"),
        "n",
        "h",
    ).drop("_gx")
    wt = (
        pan.crossJoin(F.broadcast(grid))
        .filter(F.expr("ABS(t - tg) <= h"))
        .select(
            "g",
            "tg",
            "n",
            "h",
            F.expr("t - tg").alias("u"),
            F.expr(
                "((h * h * h - ABS(t - tg) * ABS(t - tg) * ABS(t - tg))"
                " * 100) div (h * h * h)"
            ).alias("q"),
            "v",
        )
    )
    sums = wt.groupBy("g", "tg").agg(
        F.max("n").alias("n"),
        F.max("h").alias("h"),
        F.sum(F.expr("q * q * q")).cast("bigint").alias("s0"),
        F.sum(F.expr("q * q * q * u")).cast("bigint").alias("s1"),
        F.sum(F.expr("q * q * q * u * u")).cast("bigint").alias("s2"),
        F.sum(F.expr("q * q * q * v")).cast("bigint").alias("t0"),
        F.sum(F.expr("q * q * q * u * v")).cast("bigint").alias("t1"),
    )
    return sums.select(
        "g",
        "tg",
        "n",
        "h",
        F.round(
            F.expr(
                "(CAST(s2 AS DOUBLE) * t0 - CAST(s1 AS DOUBLE) * t1)"
                " / (CAST(s0 AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
            ),
            6,
        ).alias("fit_r"),
    ).orderBy("g")


@query(
    "a210_kde_epanechnikov",
    oracle=f"""
WITH daily0 AS ({_DAILYV_SQL}),
uk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(v) AS BIGINT) AS sv
  FROM daily0
), pan AS (
  SELECT CAST((v * 3000 * nd) // sv AS BIGINT) AS vs
  FROM daily0 CROSS JOIN uk
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(vs) AS BIGINT) AS vmin,
         GREATEST(CAST(1 AS BIGINT),
                  CAST((MAX(vs) - MIN(vs)) // 8 AS BIGINT)) AS h,
         CAST(MAX(vs) - MIN(vs) AS BIGINT) AS vrange
  FROM pan
), grid AS (
  SELECT CAST(g AS BIGINT) AS g,
         vmin + (CAST(g AS BIGINT) * vrange) // 31 AS xg, n, h
  FROM scal, UNNEST(generate_series(0, 31)) AS w(g)
), kq AS (
  SELECT gr.g, gr.xg, gr.n, gr.h,
         (3000000 * (gr.h * gr.h - (p.vs - gr.xg) * (p.vs - gr.xg)))
           // (4 * gr.h * gr.h) AS k
  FROM grid gr JOIN pan p ON ABS(p.vs - gr.xg) < gr.h
)
SELECT g, xg, MAX(n) AS n, MAX(h) AS h,
       CAST(COALESCE(SUM(k), 0) * 1000 // (MAX(n) * MAX(h)) AS BIGINT)
         AS f_nano
FROM kq GROUP BY g, xg
ORDER BY g
""",
    tags=("inference", "density"),
)
def a210_kde_epanechnikov(spark, sf_dir):
    """Kernel density estimate of the daily-order-volume distribution at
    32 grid points with the Epanechnikov kernel K(z) = 0.75(1 - z^2):
    the kernel is a POLYNOMIAL, so — unlike a Gaussian KDE — every
    evaluation is exact integer arithmetic (k = 3e6*(h^2-d^2) //
    (4h^2), a [0, 750000]-scaled weight), and the density is an exact
    nano-unit ratio with no per-row transcendental anywhere. Volumes
    are RATIO-rescaled to mean 3000 (vs = v*3000*n // sum(v) — unlike
    the divide-only unit_scaled this also scales sparse small-sf
    volumes UP, so the grid never degenerates to zero-width steps)
    keeping h^2 arithmetic inside int64 at every corpus scale;
    bandwidth h = range/8, grid = 32 equal steps. The histogram cousins
    (q77, q120 equidepth, a461 v-optimal) bin counts; this is the
    smoothed-density member of that family."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    uk = daily.agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("v").cast("bigint").alias("sv"),
    )
    pan = daily.crossJoin(F.broadcast(uk)).select(
        F.expr("CAST((v * 3000 * nd) div sv AS BIGINT)").alias("vs")
    )
    scal = pan.agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("vs").cast("bigint").alias("vmin"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            " CAST((MAX(vs) - MIN(vs)) div 8 AS BIGINT))"
        ).alias("h"),
        F.expr("CAST(MAX(vs) - MIN(vs) AS BIGINT)").alias("vrange"),
    )
    grid = scal.select(
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("g"), "*"
    ).select(
        F.col("g").cast("bigint").alias("g"),
        F.expr("vmin + (CAST(g AS BIGINT) * vrange) div 31").alias("xg"),
        "n",
        "h",
    )
    kq = (
        pan.crossJoin(F.broadcast(grid))
        .filter(F.expr("ABS(vs - xg) < h"))
        .select(
            "g",
            "xg",
            "n",
            "h",
            F.expr(
                "(3000000 * (h * h - (vs - xg) * (vs - xg)))"
                " div (4 * h * h)"
            ).alias("k"),
        )
    )
    return (
        kq.groupBy("g", "xg")
        .agg(
            F.max("n").alias("n"),
            F.max("h").alias("h"),
            F.expr(
                "CAST(COALESCE(SUM(k), 0) * 1000 div (MAX(n) * MAX(h))"
                " AS BIGINT)"
            ).alias("f_nano"),
        )
        .orderBy("g")
    )


@query(
    "a213_james_stein",
    oracle="""
WITH base AS (
  SELECT n.n_name,
         CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
), uk AS (
  SELECT GREATEST(CAST(1 AS BIGINT),
                  (CAST(SUM(cents) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM base
), vals AS (
  SELECT n_name, CAST(cents // u AS BIGINT) AS val FROM base CROSS JOIN uk
), grp AS (
  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(val) AS BIGINT) AS sv,
         CAST(SUM(val * val) AS BIGINT) AS svv
  FROM vals GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n_i) AS BIGINT) AS nn,
         CAST(SUM(sv) AS BIGINT) AS svt,
         CAST(SUM(svv - (sv // n_i) * sv - ((sv % n_i) * sv) // n_i)
              AS BIGINT) AS ssw
  FROM grp
), mid AS (
  SELECT g.n_name, g.n_i,
         CAST(g.sv // g.n_i AS BIGINT) AS m_i,
         CAST(t.svt // t.nn AS BIGINT) AS xbar,
         t.k, t.nn, t.ssw
  FROM grp g CROSS JOIN tot t
), ss AS (
  SELECT CAST(SUM((m_i - xbar) * (m_i - xbar)) AS BIGINT) AS s_between
  FROM mid
)
SELECT m.n_name, m.n_i, m.m_i AS mean_unit, m.xbar AS grand_unit,
       ROUND(GREATEST(CAST(0 AS DOUBLE),
             1 - ((m.k - 3) * (CAST(m.ssw AS DOUBLE) / (m.nn - m.k))
                  / m.n_i) / s.s_between), 6) AS shrink_r,
       ROUND(m.xbar + GREATEST(CAST(0 AS DOUBLE),
             1 - ((m.k - 3) * (CAST(m.ssw AS DOUBLE) / (m.nn - m.k))
                  / m.n_i) / s.s_between) * (m.m_i - m.xbar), 6) AS js_r
FROM mid m CROSS JOIN ss s
ORDER BY m.n_name
""",
    tags=("inference", "shrinkage"),
)
def a213_james_stein(spark, sf_dir):
    """Positive-part James–Stein shrinkage of per-nation mean order
    value toward the grand mean: js_i = xbar + max(0, 1 -
    (k-3)(s²/n_i)/S)·(m_i - xbar), with S = Σ(m_i - xbar)² and s² the
    pooled within variance — the canonical 'borrow strength across 25
    small groups' estimator (empirical-Bayes RATES are q311; this is
    the Gaussian-means member). Order values are adaptive-unit rescaled
    (mean ~3000); group means are exact floor divisions; within sums of
    squares use the a200 split-division trick (svv - (sv div n)·sv -
    ((sv % n)·sv) div n) so no sv² term ever forms — the moment
    arithmetic stays linear in group size and inside int64 at any
    corpus scale. One shuffled groupBy over the fact join; 25 rows."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.expr(
                "CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)"
            ).alias("cents"),
        )
    )
    vals = unit_scaled(base, "cents", 3000, "val")
    grp = vals.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("val").cast("bigint").alias("sv"),
        F.sum(F.expr("val * val")).cast("bigint").alias("svv"),
    ).localCheckpoint(eager=False)
    tot = grp.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("nn"),
        F.sum("sv").cast("bigint").alias("svt"),
        F.sum(
            F.expr("svv - (sv div n_i) * sv - ((sv % n_i) * sv) div n_i")
        )
        .cast("bigint")
        .alias("ssw"),
    )
    mid = grp.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_i",
        F.expr("CAST(sv div n_i AS BIGINT)").alias("m_i"),
        F.expr("CAST(svt div nn AS BIGINT)").alias("xbar"),
        "k",
        "nn",
        "ssw",
    )
    ss = mid.agg(
        F.sum(F.expr("(m_i - xbar) * (m_i - xbar)"))
        .cast("bigint")
        .alias("s_between")
    )
    shrink = (
        "GREATEST(CAST(0 AS DOUBLE),"
        " 1 - ((k - 3) * (CAST(ssw AS DOUBLE) / (nn - k)) / n_i)"
        " / s_between)"
    )
    return (
        mid.crossJoin(F.broadcast(ss))
        .select(
            "n_name",
            "n_i",
            F.col("m_i").alias("mean_unit"),
            F.col("xbar").alias("grand_unit"),
            F.round(F.expr(shrink), 6).alias("shrink_r"),
            F.round(
                F.expr(f"xbar + {shrink} * (m_i - xbar)"), 6
            ).alias("js_r"),
        )
        .orderBy("n_name")
    )


@query(
    "a228_ransac_line",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
pan AS (
  SELECT v, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
  FROM daily
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(SUM(v) AS BIGINT) // (COUNT(*) * 20)) AS tol
  FROM pan
), cand0 AS (
  SELECT CAST(c AS BIGINT) AS c,
         1 + ('0x' || substr(md5('ra|' || CAST(c AS VARCHAR)), 1, 15))
               ::BIGINT % n AS i1,
         1 + ('0x' || substr(md5('rb|' || CAST(c AS VARCHAR)), 1, 15))
               ::BIGINT % n AS i2,
         n, tol
  FROM scal, UNNEST(generate_series(0, 63)) AS w(c)
), cand AS (
  SELECT c0.c, c0.i1, c0.i2, p1.v AS v1, p2.v AS v2, c0.n, c0.tol
  FROM cand0 c0
  JOIN pan p1 ON p1.t = c0.i1
  JOIN pan p2 ON p2.t = c0.i2
  WHERE c0.i1 <> c0.i2
), scored AS (
  SELECT cd.c, cd.i1, cd.i2, cd.v1, cd.v2, cd.n, cd.tol,
         CAST(SUM(CASE WHEN ABS((p.v - cd.v1) * (cd.i2 - cd.i1)
                                - (p.t - cd.i1) * (cd.v2 - cd.v1))
                            <= cd.tol * ABS(cd.i2 - cd.i1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_in
  FROM cand cd CROSS JOIN pan p
  GROUP BY cd.c, cd.i1, cd.i2, cd.v1, cd.v2, cd.n, cd.tol
), best AS (
  SELECT * FROM (
    SELECT s.*, ROW_NUMBER() OVER (ORDER BY n_in DESC, c) AS rk
    FROM scored s
  ) WHERE rk = 1
), fitpts AS (
  SELECT p.t, p.v, b.c, b.n_in, b.i1, b.i2, b.v1, b.v2
  FROM pan p CROSS JOIN best b
  WHERE ABS((p.v - b.v1) * (b.i2 - b.i1)
            - (p.t - b.i1) * (b.v2 - b.v1)) <= b.tol * ABS(b.i2 - b.i1)
), fit AS (
  SELECT MAX(c) AS c, MAX(n_in) AS n_inliers,
         CAST(MAX(v2) - MAX(v1) AS DOUBLE)
           / (MAX(i2) - MAX(i1)) AS cand_slope,
         CAST(COUNT(*) AS BIGINT) AS nf,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * v) AS BIGINT) AS stv
  FROM fitpts
)
SELECT c, n_inliers, ROUND(cand_slope, 6) AS cand_slope_r,
       ROUND(CAST(nf * stv - st * sv AS DOUBLE)
             / CAST(nf * stt - st * st AS DOUBLE), 6) AS slope_r,
       ROUND((sv - (CAST(nf * stv - st * sv AS DOUBLE)
                    / CAST(nf * stt - st * st AS DOUBLE)) * st)
             / CAST(nf AS DOUBLE), 6) AS intercept_r
FROM fit
""",
    tags=("inference", "robust-regression"),
)
def a228_ransac_line(spark, sf_dir):
    """Deterministic RANSAC line fit of daily order volume on time: 64
    md5-seeded candidate point pairs (the 'random' samples, re-derivable
    in SQL), inlier = |cross-multiplied residual| <= tol*|dt| with tol =
    mean volume / 20 — an EXACT integer test, no division — winner = max
    inlier count (ties to the smallest candidate id), then an exact-
    moment OLS refit on the winner's inlier set. The consensus stage is
    64 x the calendar-bounded panel; the refit reuses the inlier
    predicate verbatim, so both engines select the identical point set.
    Complements Siegel (a208) and Theil–Sen (a565): RANSAC tolerates
    arbitrarily gross outliers as long as half the panel is clean."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    pan = daily.select(
        "v",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    ).localCheckpoint(eager=False)
    scal = pan.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            " CAST(SUM(v) AS BIGINT) div (COUNT(*) * 20))"
        ).alias("tol"),
    )
    cand0 = scal.select(
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("c"), "n", "tol"
    ).select(
        F.col("c").cast("bigint").alias("c"),
        F.expr(
            "1 + CAST(conv(substring(md5(concat('ra|', CAST(c AS STRING))),"
            " 1, 15), 16, 10) AS BIGINT) % n"
        ).alias("i1"),
        F.expr(
            "1 + CAST(conv(substring(md5(concat('rb|', CAST(c AS STRING))),"
            " 1, 15), 16, 10) AS BIGINT) % n"
        ).alias("i2"),
        "n",
        "tol",
    )
    p1 = pan.select(F.col("t").alias("t1"), F.col("v").alias("v1"))
    p2 = pan.select(F.col("t").alias("t2"), F.col("v").alias("v2"))
    cand = (
        cand0.filter(F.col("i1") != F.col("i2"))
        .join(F.broadcast(p1).hint("broadcast"), F.col("i1") == F.col("t1"))
        .join(F.broadcast(p2).hint("broadcast"), F.col("i2") == F.col("t2"))
        .select("c", "i1", "i2", "v1", "v2", "n", "tol")
    )
    scored = (
        pan.crossJoin(F.broadcast(cand))
        .groupBy("c", "i1", "i2", "v1", "v2", "n", "tol")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN ABS((v - v1) * (i2 - i1)"
                    " - (t - i1) * (v2 - v1)) <= tol * ABS(i2 - i1)"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_in")
        )
    )
    best = (
        scored.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("n_in"), "c")),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    fitpts = pan.crossJoin(F.broadcast(best)).filter(
        F.expr(
            "ABS((v - v1) * (i2 - i1) - (t - i1) * (v2 - v1))"
            " <= tol * ABS(i2 - i1)"
        )
    )
    fit = fitpts.agg(
        F.max("c").alias("c"),
        F.max("n_in").alias("n_inliers"),
        F.expr(
            "CAST(MAX(v2) - MAX(v1) AS DOUBLE) / (MAX(i2) - MAX(i1))"
        ).alias("cand_slope"),
        F.count("*").cast("bigint").alias("nf"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.expr("t * t")).cast("bigint").alias("stt"),
        F.sum(F.expr("t * v")).cast("bigint").alias("stv"),
    )
    return fit.select(
        "c",
        "n_inliers",
        F.round("cand_slope", 6).alias("cand_slope_r"),
        F.round(
            F.expr(
                "CAST(nf * stv - st * sv AS DOUBLE)"
                " / CAST(nf * stt - st * st AS DOUBLE)"
            ),
            6,
        ).alias("slope_r"),
        F.round(
            F.expr(
                "(sv - (CAST(nf * stv - st * sv AS DOUBLE)"
                " / CAST(nf * stt - st * st AS DOUBLE)) * st)"
                " / CAST(nf AS DOUBLE)"
            ),
            6,
        ).alias("intercept_r"),
    )


@query(
    "a212_rate_standardization",
    oracle="""
WITH cells AS (
  SELECT n.n_name,
         string_split(p.p_type, ' ')[1] AS stratum,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ret
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), strata AS (
  SELECT stratum, CAST(SUM(n_lines) AS BIGINT) AS w_s,
         CAST(SUM(n_ret) AS BIGINT) AS r_s
  FROM cells GROUP BY 1
), joined AS (
  SELECT c.n_name, c.stratum, c.n_lines, c.n_ret, s.w_s,
         CAST(s.r_s * 1000000 // s.w_s AS BIGINT) AS g_rate_micro,
         CAST(c.n_ret * 1000000 // c.n_lines AS BIGINT) AS c_rate_micro
  FROM cells c JOIN strata s ON c.stratum = s.stratum
)
SELECT n_name,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(n_ret) * 1000000 // SUM(n_lines) AS BIGINT) AS crude_ppm,
       CAST(SUM(c_rate_micro * w_s) // SUM(w_s) AS BIGINT) AS direct_ppm,
       ROUND(CAST(SUM(n_ret) AS DOUBLE) * 1000000
             / SUM(g_rate_micro * n_lines), 6) AS smr_r
FROM joined
GROUP BY n_name
ORDER BY n_name
""",
    tags=("inference", "epidemiology"),
)
def a212_rate_standardization(spark, sf_dir):
    """Direct and indirect rate standardization of per-nation lineitem
    return rates with part-type family as the confounding stratum — the
    epidemiology-standard answer to 'nation A returns more, but does it
    just ship more return-prone part types?'. Direct = nation's
    stratum rates weighted by the GLOBAL stratum mix (exact micro-rate
    x weight integer fold); indirect = observed/expected where expected
    applies global stratum rates to the nation's own mix (the SMR; one
    terminal double division). Per-stratum rates are exact integer
    micro floors, so the whole table is reproducible bit-for-bit; one
    shuffled groupBy to 25 x 6 cells bounds everything downstream."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    cells = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .groupBy(
            "n_name",
            F.expr("split(p_type, ' ')[0]").alias("stratum"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_ret"),
        )
        .localCheckpoint(eager=False)
    )
    strata = cells.groupBy("stratum").agg(
        F.sum("n_lines").cast("bigint").alias("w_s"),
        F.sum("n_ret").cast("bigint").alias("r_s"),
    )
    joined = cells.join(F.broadcast(strata), "stratum").select(
        "n_name",
        "n_lines",
        "n_ret",
        "w_s",
        F.expr("CAST(r_s * 1000000 div w_s AS BIGINT)").alias(
            "g_rate_micro"
        ),
        F.expr("CAST(n_ret * 1000000 div n_lines AS BIGINT)").alias(
            "c_rate_micro"
        ),
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.expr(
                "CAST(SUM(n_ret) * 1000000 div SUM(n_lines) AS BIGINT)"
            ).alias("crude_ppm"),
            F.expr(
                "CAST(SUM(c_rate_micro * w_s) div SUM(w_s) AS BIGINT)"
            ).alias("direct_ppm"),
            F.round(
                F.expr(
                    "CAST(SUM(n_ret) AS DOUBLE) * 1000000"
                    " / SUM(g_rate_micro * n_lines)"
                ),
                6,
            ).alias("smr_r"),
        )
        .orderBy("n_name")
    )


@query(
    "a214_event_study_car",
    oracle="""
WITH mon AS (
  SELECT c.c_mktsegment AS seg,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), months AS (
  SELECT m, CAST(ROW_NUMBER() OVER (ORDER BY m) AS BIGINT) AS t,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_m
  FROM (SELECT DISTINCT m FROM mon)
), segs AS (
  SELECT DISTINCT seg FROM mon
), grid AS (
  SELECT s.seg, mo.m, mo.t, mo.n_m, COALESCE(x.v, 0) AS v
  FROM segs s CROSS JOIN months mo
  LEFT JOIN mon x ON x.seg = s.seg AND x.m = mo.m
), mkt AS (
  SELECT m, t, n_m, CAST(SUM(v) AS BIGINT) AS mk FROM grid
  GROUP BY m, t, n_m
), pan AS (
  SELECT g.seg, g.t, g.v, k.mk, g.n_m,
         CASE WHEN g.t <= g.n_m - 6 THEN 1 ELSE 0 END AS est
  FROM grid g JOIN mkt k ON g.t = k.t
), mom AS (
  SELECT seg,
         CAST(COUNT(*) FILTER (WHERE est = 1) AS BIGINT) AS ne,
         CAST(SUM(mk) FILTER (WHERE est = 1) AS BIGINT) AS sm,
         CAST(SUM(mk * mk) FILTER (WHERE est = 1) AS BIGINT) AS smm,
         CAST(SUM(v) FILTER (WHERE est = 1) AS BIGINT) AS sv,
         CAST(SUM(v * v) FILTER (WHERE est = 1) AS BIGINT) AS svv,
         CAST(SUM(mk * v) FILTER (WHERE est = 1) AS BIGINT) AS smv
  FROM pan GROUP BY seg
), coef AS (
  SELECT seg, ne,
         CAST(ne * smv - sm * sv AS DOUBLE)
           / CAST(ne * smm - sm * sm AS DOUBLE) AS beta,
         (CAST(sv AS DOUBLE) - (CAST(ne * smv - sm * sv AS DOUBLE)
            / CAST(ne * smm - sm * sm AS DOUBLE)) * sm) / ne AS alpha,
         (CAST(ne * svv - sv * sv AS DOUBLE)
          - (CAST(ne * smv - sm * sv AS DOUBLE)
             * CAST(ne * smv - sm * sv AS DOUBLE))
            / CAST(ne * smm - sm * sm AS DOUBLE))
           / (CAST(ne AS DOUBLE) * (ne - 2)) AS s2
  FROM mom
), ev AS (
  SELECT p.seg, CAST(COUNT(*) AS BIGINT) AS lw,
         CAST(SUM(p.v) AS BIGINT) AS sv_e,
         CAST(SUM(p.mk) AS BIGINT) AS sm_e,
         MAX(c.beta) AS beta, MAX(c.s2) AS s2, MAX(c.alpha) AS alpha
  FROM pan p JOIN coef c ON p.seg = c.seg
  WHERE p.est = 0
  GROUP BY p.seg
), evc AS (
  SELECT seg, lw, alpha, beta, s2,
         sv_e - lw * alpha - beta * sm_e AS car
  FROM ev
)
SELECT seg, lw AS event_months,
       ROUND(alpha, 6) AS alpha_r, ROUND(beta, 6) AS beta_r,
       ROUND(car, 6) AS car_r,
       ROUND(car / SQRT(lw * s2), 6) AS t_stat_r
FROM evc
ORDER BY seg
""",
    tags=("inference", "event-study"),
)
def a214_event_study_car(spark, sf_dir):
    """Event-study cumulative abnormal activity: each market segment's
    monthly order volume is regressed on the total market volume over
    an estimation window (all but the last 6 months), then the last 6
    months' residuals are cumulated into a CAR with the standard
    t = CAR / sqrt(L * s²) test — the finance event-study design
    transplanted to pipeline monitoring ('did segment X deviate from
    its market beta after the event?'). The month x segment grid is
    calendar-bounded (<= 82 x 5 at any corpus scale) and zero-filled
    via an explicit grid join so sparse small-sf months cannot skew the
    OLS; all moments are exact BIGINTs; CAR is linear in (v, mk), so
    it folds to exact BIGINT event-window sums plus scalar double
    arithmetic — no order-sensitive double SUM anywhere."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    mon = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        )
        .agg(F.count("*").cast("bigint").alias("v"))
        .localCheckpoint(eager=False)
    )
    months = (
        mon.select("m")
        .distinct()
        .select(
            "m",
            F.row_number().over(Window.orderBy("m")).cast("bigint").alias("t"),
        )
        .withColumn("n_m", F.count("*").over(Window.partitionBy()).cast("bigint"))
    )
    segs = mon.select("seg").distinct()
    grid = (
        segs.crossJoin(months)
        .join(mon, ["seg", "m"], "left")
        .select("seg", "m", "t", "n_m", F.coalesce("v", F.lit(0)).alias("v"))
        .localCheckpoint(eager=False)
    )
    mkt = grid.groupBy("m", "t", "n_m").agg(
        F.sum("v").cast("bigint").alias("mk")
    )
    pan = grid.join(mkt.select("t", "mk"), "t").select(
        "seg",
        "t",
        "v",
        "mk",
        F.expr("CASE WHEN t <= n_m - 6 THEN 1 ELSE 0 END").alias("est"),
    )
    mom = pan.groupBy("seg").agg(
        F.expr("CAST(COUNT(*) FILTER (WHERE est = 1) AS BIGINT)").alias("ne"),
        F.expr("CAST(SUM(mk) FILTER (WHERE est = 1) AS BIGINT)").alias("sm"),
        F.expr(
            "CAST(SUM(mk * mk) FILTER (WHERE est = 1) AS BIGINT)"
        ).alias("smm"),
        F.expr("CAST(SUM(v) FILTER (WHERE est = 1) AS BIGINT)").alias("sv"),
        F.expr(
            "CAST(SUM(v * v) FILTER (WHERE est = 1) AS BIGINT)"
        ).alias("svv"),
        F.expr(
            "CAST(SUM(mk * v) FILTER (WHERE est = 1) AS BIGINT)"
        ).alias("smv"),
    )
    coef = mom.select(
        "seg",
        "ne",
        F.expr(
            "CAST(ne * smv - sm * sv AS DOUBLE)"
            " / CAST(ne * smm - sm * sm AS DOUBLE)"
        ).alias("beta"),
        F.expr(
            "(CAST(sv AS DOUBLE) - (CAST(ne * smv - sm * sv AS DOUBLE)"
            " / CAST(ne * smm - sm * sm AS DOUBLE)) * sm) / ne"
        ).alias("alpha"),
        F.expr(
            "(CAST(ne * svv - sv * sv AS DOUBLE)"
            " - (CAST(ne * smv - sm * sv AS DOUBLE)"
            " * CAST(ne * smv - sm * sv AS DOUBLE))"
            " / CAST(ne * smm - sm * sm AS DOUBLE))"
            " / (CAST(ne AS DOUBLE) * (ne - 2))"
        ).alias("s2"),
    )
    ev = (
        pan.filter(F.col("est") == 0)
        .join(F.broadcast(coef), "seg")
        .groupBy("seg")
        .agg(
            F.count("*").cast("bigint").alias("lw"),
            F.sum("v").cast("bigint").alias("sv_e"),
            F.sum("mk").cast("bigint").alias("sm_e"),
            F.max("beta").alias("beta"),
            F.max("s2").alias("s2"),
            F.max("alpha").alias("alpha"),
        )
    )
    # CAR is linear in (v, mk), so it folds to exact BIGINT sums and
    # scalar double arithmetic — never an order-sensitive double SUM.
    ev = ev.withColumn("car", F.expr("sv_e - lw * alpha - beta * sm_e"))
    return ev.select(
        "seg",
        F.col("lw").alias("event_months"),
        F.round("alpha", 6).alias("alpha_r"),
        F.round("beta", 6).alias("beta_r"),
        F.round("car", 6).alias("car_r"),
        F.round(F.expr("car / SQRT(lw * s2)"), 6).alias("t_stat_r"),
    ).orderBy("seg")


@query(
    "a221_chain_ladder",
    oracle="""
WITH pay AS (
  SELECT (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS om,
         (year(l.l_shipdate) * 12 + month(l.l_shipdate))
           - (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS dev,
         CAST(ROUND(l.l_extendedprice * 100.0, 0) AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), m0 AS (
  SELECT MIN(om) AS om0 FROM pay
), tri AS (
  SELECT p.om - m.om0 AS origin, LEAST(p.dev, 5) AS dev,
         CAST(SUM(p.cents) AS BIGINT) AS paid
  FROM pay p CROSS JOIN m0 m
  WHERE p.om - m.om0 < 12
    AND (p.om - m.om0) + p.dev < 12
  GROUP BY 1, 2
), cum AS (
  SELECT origin, dev,
         CAST(SUM(paid) OVER (PARTITION BY origin ORDER BY dev
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM tri
), fac AS (
  SELECT a.dev AS d,
         CAST(SUM(b.c) AS BIGINT) AS num, CAST(SUM(a.c) AS BIGINT) AS den
  FROM cum a JOIN cum b ON a.origin = b.origin AND b.dev = a.dev + 1
  WHERE a.origin + a.dev + 1 < 12
  GROUP BY 1
), fpivot AS (
  SELECT COALESCE(MAX(CASE WHEN d = 0 THEN CAST(num AS DOUBLE) / den END),
                  1.0) AS f0,
         COALESCE(MAX(CASE WHEN d = 1 THEN CAST(num AS DOUBLE) / den END),
                  1.0) AS f1,
         COALESCE(MAX(CASE WHEN d = 2 THEN CAST(num AS DOUBLE) / den END),
                  1.0) AS f2,
         COALESCE(MAX(CASE WHEN d = 3 THEN CAST(num AS DOUBLE) / den END),
                  1.0) AS f3,
         COALESCE(MAX(CASE WHEN d = 4 THEN CAST(num AS DOUBLE) / den END),
                  1.0) AS f4
  FROM fac
), latest AS (
  SELECT origin, MAX(dev) AS dlast FROM cum GROUP BY origin
), ult AS (
  SELECT l.origin, l.dlast, c.c AS latest_cents,
         c.c * (CASE WHEN l.dlast <= 0 THEN f.f0 ELSE 1.0 END)
             * (CASE WHEN l.dlast <= 1 THEN f.f1 ELSE 1.0 END)
             * (CASE WHEN l.dlast <= 2 THEN f.f2 ELSE 1.0 END)
             * (CASE WHEN l.dlast <= 3 THEN f.f3 ELSE 1.0 END)
             * (CASE WHEN l.dlast <= 4 THEN f.f4 ELSE 1.0 END) AS ultimate
  FROM latest l
  JOIN cum c ON c.origin = l.origin AND c.dev = l.dlast
  CROSS JOIN fpivot f
)
SELECT origin, dlast, latest_cents,
       CAST(FLOOR(ultimate) AS BIGINT) AS ultimate_cents,
       CAST(FLOOR(ultimate) AS BIGINT) - latest_cents AS reserve_cents
FROM ult
ORDER BY origin
""",
    tags=("inference", "actuarial"),
)
def a221_chain_ladder(spark, sf_dir):
    """Chain-ladder loss development (the standard actuarial reserving
    method) on the order->ship payment triangle: origin = order month
    (first 12 fixture months), development lag = ship month - order
    month, with a month-12 valuation cutoff so late origins have
    censored tails exactly like a real reserving triangle. Age-to-age
    factors are volume-weighted across origins that observe dev d+1
    (exact BIGINT cent sums; one double division per factor, <= 5
    factors); ultimates multiply the latest diagonal by the factor tail
    (bounded double products via an explicit dev CASE ladder — no
    order-sensitive aggregation). The triangle is calendar-bounded
    (12 x 6 cells) at any corpus scale; only the one groupBy that
    builds it scans the fact join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    pay = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)").alias("om"),
        F.expr(
            "(year(l_shipdate) * 12 + month(l_shipdate))"
            " - (year(o_orderdate) * 12 + month(o_orderdate))"
        ).alias("dev"),
        F.expr(
            "CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)"
        ).alias("cents"),
    )
    m0 = pay.agg(F.min("om").alias("om0"))
    tri = (
        pay.crossJoin(F.broadcast(m0))
        .filter(F.expr("om - om0 < 12 AND (om - om0) + dev < 12"))
        .groupBy(
            F.expr("om - om0").alias("origin"),
            F.expr("LEAST(dev, 5)").alias("dev"),
        )
        .agg(F.sum("cents").cast("bigint").alias("paid"))
        .localCheckpoint(eager=False)
    )
    cum = tri.select(
        "origin",
        "dev",
        F.sum("paid")
        .over(
            Window.partitionBy("origin")
            .orderBy("dev")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("c"),
    ).localCheckpoint(eager=False)
    a = cum.alias("a")
    b = cum.alias("b")
    fac = (
        a.join(
            b,
            (F.col("a.origin") == F.col("b.origin"))
            & (F.col("b.dev") == F.col("a.dev") + 1),
        )
        .filter(F.expr("a.origin + a.dev + 1 < 12"))
        .groupBy(F.col("a.dev").alias("d"))
        .agg(
            F.sum("b.c").cast("bigint").alias("num"),
            F.sum("a.c").cast("bigint").alias("den"),
        )
    )
    fpivot = fac.agg(
        *[
            F.coalesce(
                F.max(
                    F.when(
                        F.col("d") == i,
                        F.col("num").cast("double") / F.col("den"),
                    )
                ),
                F.lit(1.0),
            ).alias(f"f{i}")
            for i in range(5)
        ]
    )
    latest = cum.groupBy("origin").agg(F.max("dev").alias("dlast"))
    ult = (
        latest.join(
            cum,
            (latest.origin == cum.origin) & (F.col("dlast") == cum.dev),
        )
        .select(latest.origin, "dlast", F.col("c").alias("latest_cents"))
        .crossJoin(F.broadcast(fpivot))
        .select(
            "origin",
            "dlast",
            "latest_cents",
            F.expr(
                "latest_cents"
                " * (CASE WHEN dlast <= 0 THEN f0 ELSE 1.0 END)"
                " * (CASE WHEN dlast <= 1 THEN f1 ELSE 1.0 END)"
                " * (CASE WHEN dlast <= 2 THEN f2 ELSE 1.0 END)"
                " * (CASE WHEN dlast <= 3 THEN f3 ELSE 1.0 END)"
                " * (CASE WHEN dlast <= 4 THEN f4 ELSE 1.0 END)"
            ).alias("ultimate"),
        )
    )
    # Ultimates reach 1e9+ cents, where a 6dp ROUND exceeds double
    # resolution and the two engines break the tie differently — emit
    # FLOOR'd integer cents instead (floor of bit-identical doubles is
    # engine-identical at any magnitude).
    return ult.select(
        "origin",
        "dlast",
        "latest_cents",
        F.expr("CAST(FLOOR(ultimate) AS BIGINT)").alias("ultimate_cents"),
        F.expr(
            "CAST(FLOOR(ultimate) AS BIGINT) - latest_cents"
        ).alias("reserve_cents"),
    ).orderBy("origin")


@query(
    "a222_bullwhip_effect",
    oracle="""
WITH li AS (
  SELECT l.l_shipdate, o.o_orderdate,
         CAST(ROUND(l.l_quantity * 100.0, 0) AS BIGINT) AS qc
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), dem AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate)) AS m,
         CAST(SUM(qc) AS BIGINT) AS q
  FROM li GROUP BY 1
), shp AS (
  SELECT (year(l_shipdate) * 12 + month(l_shipdate)) AS m,
         CAST(SUM(qc) AS BIGINT) AS q
  FROM li GROUP BY 1
), uk AS (
  SELECT GREATEST(CAST(1 AS BIGINT),
                  (CAST(SUM(q) AS BIGINT) // COUNT(*)) // 30000) AS u
  FROM dem
), pan AS (
  SELECT d.m, CAST(d.q // u.u AS BIGINT) AS dq,
         CAST(s.q // u.u AS BIGINT) AS sq
  FROM dem d JOIN shp s ON d.m = s.m CROSS JOIN uk u
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dq) AS BIGINT) AS sd,
         CAST(SUM(dq * dq) AS BIGINT) AS sdd,
         CAST(SUM(sq) AS BIGINT) AS ss,
         CAST(SUM(sq * sq) AS BIGINT) AS sss
  FROM pan
)
SELECT n,
       ROUND(CAST(n * sdd - sd * sd AS DOUBLE)
             / (CAST(sd AS DOUBLE) * sd), 6) AS cv2_demand_r,
       ROUND(CAST(n * sss - ss * ss AS DOUBLE)
             / (CAST(ss AS DOUBLE) * ss), 6) AS cv2_ship_r,
       ROUND((CAST(n * sss - ss * ss AS DOUBLE)
              / (CAST(ss AS DOUBLE) * ss))
             / (CAST(n * sdd - sd * sd AS DOUBLE)
                / (CAST(sd AS DOUBLE) * sd)), 6) AS bullwhip_r
FROM mom
""",
    tags=("inference", "supply-chain"),
)
def a222_bullwhip_effect(spark, sf_dir):
    """Bullwhip-effect measurement: the variance-amplification ratio
    CV²(monthly shipped quantity) / CV²(monthly ordered quantity) — the
    Lee/Padmanabhan/Whang demand-distortion metric, >1 meaning the
    fulfillment echelon amplifies demand variability. Both series fold
    to the calendar-bounded month panel (months present in BOTH series,
    so partial edge months cancel); quantities are cent-quantized then
    adaptive-unit rescaled (CV² is unit-free, so the rescale cancels
    exactly); all moments are exact BIGINTs with terminal double
    ratios."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)").alias("dm"),
        F.expr("year(l_shipdate) * 12 + month(l_shipdate)").alias("sm"),
        F.expr("CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT)").alias("qc"),
    )
    dem = base.groupBy(F.col("dm").alias("m")).agg(
        F.sum("qc").cast("bigint").alias("q")
    )
    shp = base.groupBy(F.col("sm").alias("m")).agg(
        F.sum("qc").cast("bigint").alias("q")
    )
    uk = adaptive_unit(dem, "q", 30000)
    pan = (
        dem.select(F.col("m"), F.col("q").alias("dq0"))
        .join(shp.select(F.col("m"), F.col("q").alias("sq0")), "m")
        .crossJoin(F.broadcast(uk))
        .select(
            F.expr("CAST(dq0 div u AS BIGINT)").alias("dq"),
            F.expr("CAST(sq0 div u AS BIGINT)").alias("sq"),
        )
    )
    mom = pan.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dq").cast("bigint").alias("sd"),
        F.sum(F.expr("dq * dq")).cast("bigint").alias("sdd"),
        F.sum("sq").cast("bigint").alias("ss"),
        F.sum(F.expr("sq * sq")).cast("bigint").alias("sss"),
    )
    return mom.select(
        "n",
        F.round(
            F.expr(
                "CAST(n * sdd - sd * sd AS DOUBLE)"
                " / (CAST(sd AS DOUBLE) * sd)"
            ),
            6,
        ).alias("cv2_demand_r"),
        F.round(
            F.expr(
                "CAST(n * sss - ss * ss AS DOUBLE)"
                " / (CAST(ss AS DOUBLE) * ss)"
            ),
            6,
        ).alias("cv2_ship_r"),
        F.round(
            F.expr(
                "(CAST(n * sss - ss * ss AS DOUBLE)"
                " / (CAST(ss AS DOUBLE) * ss))"
                " / (CAST(n * sdd - sd * sd AS DOUBLE)"
                " / (CAST(sd AS DOUBLE) * sd))"
            ),
            6,
        ).alias("bullwhip_r"),
    )


_JOBS_SQL = """
jobs AS (
  SELECT o.o_orderkey AS okey,
         o.o_orderkey % 64 AS mach,
         CAST(DATEDIFF('day', (SELECT MIN(CAST(o_orderdate AS DATE))
                               FROM orders),
                       CAST(o.o_orderdate AS DATE)) AS BIGINT) AS r,
         CAST(DATEDIFF('day', (SELECT MIN(CAST(o_orderdate AS DATE))
                               FROM orders),
                       CAST(o.o_orderdate AS DATE)) AS BIGINT)
           + 3 + ('0x' || substr(md5('due|' || CAST(o.o_orderkey
                  AS VARCHAR)), 1, 15))::BIGINT % 28 AS due,
         CAST(COUNT(*) AS BIGINT) AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2, 3, 4
)
"""


@query(
    "a223_dispatch_rules",
    oracle=f"""
WITH {_JOBS_SQL},
fifo AS (
  SELECT mach, due, p,
         CAST(SUM(p) OVER (PARTITION BY mach ORDER BY r, okey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM jobs
), spt AS (
  SELECT mach, due, p,
         CAST(SUM(p) OVER (PARTITION BY mach ORDER BY p, okey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM jobs
), edd AS (
  SELECT mach, due, p,
         CAST(SUM(p) OVER (PARTITION BY mach ORDER BY due, okey
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
  FROM jobs
), unioned AS (
  SELECT 'fifo' AS rule, * FROM fifo
  UNION ALL SELECT 'spt' AS rule, * FROM spt
  UNION ALL SELECT 'edd' AS rule, * FROM edd
)
SELECT rule,
       CAST(COUNT(*) AS BIGINT) AS n_jobs,
       CAST(SUM(c) AS BIGINT) AS total_flow,
       CAST(SUM(GREATEST(c - due, 0)) AS BIGINT) AS total_tardiness,
       CAST(SUM(CASE WHEN c > due THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tardy
FROM unioned
GROUP BY rule
ORDER BY rule
""",
    tags=("inference", "scheduling"),
)
def a223_dispatch_rules(spark, sf_dir):
    """Single-machine dispatch-rule replay: orders are jobs (processing
    time = lineitem count, machine = orderkey mod 64, md5-jittered due
    dates so EDD is not FIFO in disguise), sequenced per machine under
    FIFO, SPT (shortest processing time — the total-flow-time-optimal
    rule) and EDD (earliest due date — the max-lateness-optimal rule),
    and scored on exact total flow, total tardiness and tardy-job
    count. Each rule is one partitioned running sum (the q229 ordered-
    recurrence shape, 64-way parallel, never a global sort); ties break
    on orderkey so both engines replay the identical sequence. The
    classic OR result to expect: SPT minimizes total_flow, EDD
    minimizes the worst lateness but not necessarily total
    tardiness."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    d0 = o.agg(F.min(F.col("o_orderdate").cast("date")).alias("d0"))
    jobs = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .crossJoin(F.broadcast(d0))
        .groupBy(
            F.col("o_orderkey").alias("okey"),
            F.expr("o_orderkey % 64").alias("mach"),
            F.expr(
                "CAST(DATEDIFF(CAST(o_orderdate AS DATE), d0) AS BIGINT)"
            ).alias("r"),
            F.expr(
                "CAST(DATEDIFF(CAST(o_orderdate AS DATE), d0) AS BIGINT)"
                " + 3 + CAST(conv(substring(md5(concat('due|',"
                " CAST(o_orderkey AS STRING))), 1, 15), 16, 10)"
                " AS BIGINT) % 28"
            ).alias("due"),
        )
        .agg(F.count("*").cast("bigint").alias("p"))
        .localCheckpoint(eager=False)
    )
    def replay(rule, order_cols):
        w = (
            Window.partitionBy("mach")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return jobs.select(
            F.lit(rule).alias("rule"),
            "due",
            F.sum("p").over(w).cast("bigint").alias("c"),
        )
    unioned = (
        replay("fifo", ["r", "okey"])
        .unionAll(replay("spt", ["p", "okey"]))
        .unionAll(replay("edd", ["due", "okey"]))
    )
    return (
        unioned.groupBy("rule")
        .agg(
            F.count("*").cast("bigint").alias("n_jobs"),
            F.sum("c").cast("bigint").alias("total_flow"),
            F.sum(F.expr("GREATEST(c - due, CAST(0 AS BIGINT))"))
            .cast("bigint")
            .alias("total_tardiness"),
            F.sum(F.expr("CASE WHEN c > due THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_tardy"),
        )
        .orderBy("rule")
    )


@query(
    "a225_mg1_pollaczek",
    oracle="""
WITH seq AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t_us,
         CASE WHEN CAST(epoch_us(ts) AS BIGINT)
                   - LAG(CAST(epoch_us(ts) AS BIGINT)) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000
              OR LAG(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, sid,
         CAST(MIN(t_us) AS BIGINT) AS s_start,
         CAST(MAX(t_us) AS BIGINT) AS s_end
  FROM (
    SELECT user_id, t_us,
           SUM(new_s) OVER
             (PARTITION BY user_id ORDER BY t_us
              ROWS UNBOUNDED PRECEDING) AS sid
    FROM seq
  ) GROUP BY 1, 2
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MAX(s_start) - MIN(s_start) AS BIGINT) // 1000000 AS span_s,
         CAST(SUM((s_end - s_start) // 1000000) AS BIGINT) AS sdur,
         CAST(SUM(((s_end - s_start) // 1000000)
                  * ((s_end - s_start) // 1000000)) AS BIGINT) AS sdur2
  FROM sess
), pk AS (
  SELECT n, span_s, sdur, sdur2,
         CAST(n - 1 AS DOUBLE) / span_s AS lam,
         CAST(sdur AS DOUBLE) / n AS es,
         CAST(sdur2 AS DOUBLE) / n AS es2
  FROM mom
)
SELECT n AS n_sessions, span_s,
       ROUND(lam, 6) AS lambda_r, ROUND(es, 6) AS es_r,
       ROUND(es2, 6) AS es2_r,
       ROUND(lam * es, 6) AS rho_r,
       CASE WHEN lam * es < 1 THEN 0 ELSE 1 END AS saturated,
       ROUND(CASE WHEN lam * es < 1
                  THEN lam * es2 / (2 * (1 - lam * es))
                  ELSE CAST(0 AS DOUBLE) END, 6) AS wq_r,
       ROUND(CASE WHEN lam * es < 1
                  THEN lam * lam * es2 / (2 * (1 - lam * es))
                  ELSE CAST(0 AS DOUBLE) END, 6) AS lq_r
FROM pk
""",
    tags=("inference", "queueing", "events"),
)
def a225_mg1_pollaczek(spark, sf_dir):
    """Pollaczck–Khinchine M/G/1 queueing estimates from sessionized
    event activity: arrivals = session starts (lambda = (n-1)/span),
    service = session duration in whole seconds (E[S], E[S²] exact
    BIGINT moments — the SECOND moment is what M/M/1 (a398) and
    Erlang-C (a499) cannot use; P-K is exactly the formula that prices
    service-time VARIANCE: Wq = lambda*E[S²] / (2(1-rho))). Uses the
    a200 Little's-law sessionization verbatim (30-min gap rule) so the
    queueing family shares one session definition; saturated (rho >= 1)
    fixtures emit the 0-sentinel on both engines rather than a negative
    queue. Second moments are second-quantized to keep sdur2 linear
    headroom (1e4² per session) at any corpus scale."""
    e = table(spark, sf_dir, "events")
    seq = e.select(
        "user_id",
        F.expr("CAST(unix_micros(ts) AS BIGINT)").alias("t_us"),
        F.expr(
            "CASE WHEN CAST(unix_micros(ts) AS BIGINT)"
            " - LAG(CAST(unix_micros(ts) AS BIGINT)) OVER"
            " (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000"
            " OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
            " IS NULL THEN 1 ELSE 0 END"
        ).alias("new_s"),
    )
    sess = (
        seq.select(
            "user_id",
            "t_us",
            F.sum("new_s")
            .over(
                Window.partitionBy("user_id")
                .orderBy("t_us")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("t_us").cast("bigint").alias("s_start"),
            F.max("t_us").cast("bigint").alias("s_end"),
        )
    )
    mom = sess.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "CAST(MAX(s_start) - MIN(s_start) AS BIGINT) div 1000000"
        ).alias("span_s"),
        F.sum(F.expr("(s_end - s_start) div 1000000"))
        .cast("bigint")
        .alias("sdur"),
        F.sum(
            F.expr(
                "((s_end - s_start) div 1000000)"
                " * ((s_end - s_start) div 1000000)"
            )
        )
        .cast("bigint")
        .alias("sdur2"),
    )
    pk = mom.select(
        "n",
        "span_s",
        F.expr("CAST(n - 1 AS DOUBLE) / span_s").alias("lam"),
        F.expr("CAST(sdur AS DOUBLE) / n").alias("es"),
        F.expr("CAST(sdur2 AS DOUBLE) / n").alias("es2"),
    )
    return pk.select(
        F.col("n").alias("n_sessions"),
        "span_s",
        F.round("lam", 6).alias("lambda_r"),
        F.round("es", 6).alias("es_r"),
        F.round("es2", 6).alias("es2_r"),
        F.round(F.expr("lam * es"), 6).alias("rho_r"),
        F.expr("CASE WHEN lam * es < 1 THEN 0 ELSE 1 END").alias(
            "saturated"
        ),
        F.round(
            F.expr(
                "CASE WHEN lam * es < 1"
                " THEN lam * es2 / (2 * (1 - lam * es))"
                " ELSE CAST(0 AS DOUBLE) END"
            ),
            6,
        ).alias("wq_r"),
        F.round(
            F.expr(
                "CASE WHEN lam * es < 1"
                " THEN lam * lam * es2 / (2 * (1 - lam * es))"
                " ELSE CAST(0 AS DOUBLE) END"
            ),
            6,
        ).alias("lq_r"),
    )


@query(
    "a227_life_table",
    oracle="""
WITH tenure AS (
  SELECT user_id,
         CAST(DATEDIFF('day', MIN(CAST(ts AS DATE)),
                       MAX(CAST(ts AS DATE))) AS BIGINT) AS days
  FROM events GROUP BY 1
), bands AS (
  SELECT LEAST(days // 30, 9) AS x, CAST(COUNT(*) AS BIGINT) AS d_x
  FROM tenure GROUP BY 1
), grid AS (
  SELECT CAST(g AS BIGINT) AS x FROM UNNEST(generate_series(0, 9)) t(g)
), full_t AS (
  SELECT gr.x, COALESCE(b.d_x, 0) AS d_x
  FROM grid gr LEFT JOIN bands b ON gr.x = b.x
), lt AS (
  SELECT x, d_x,
         CAST(SUM(d_x) OVER (ORDER BY x DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS l_x
  FROM full_t
), ex AS (
  SELECT x, d_x, l_x,
         CAST(COALESCE(SUM(l_x) OVER (ORDER BY x
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
              AS BIGINT) AS tail_l
  FROM lt
)
SELECT x, l_x, d_x,
       CAST(CASE WHEN l_x = 0 THEN 0
                 ELSE d_x * 1000000 // l_x END AS BIGINT) AS q_x_micro,
       CAST(CASE WHEN l_x = 0 THEN 0
                 ELSE tail_l * 1000000 // l_x END AS BIGINT)
         AS e_x_micro_bands
FROM ex
ORDER BY x
""",
    tags=("inference", "survival"),
)
def a227_life_table(spark, sf_dir):
    """Complete-cohort abridged life table of user activity tenure
    (first-to-last event span, 30-day bands, capped at band 9): l_x =
    users surviving to enter band x, d_x = deaths (last activity) in
    band x, q_x = d_x/l_x, and the curtate expectation e_x = sum of
    future survivors / l_x — the classical actuarial presentation,
    complementary to the Kaplan–Meier estimator (q245: handles
    censoring, no banding) and the Nelson–Aalen RMST (a488). All
    columns are exact integer micro ratios; the table is 10 rows at
    any corpus scale (one user-level groupBy, one 10-row window)."""
    e = table(spark, sf_dir, "events")
    tenure = e.groupBy("user_id").agg(
        F.expr(
            "CAST(DATEDIFF(MAX(CAST(ts AS DATE)), MIN(CAST(ts AS DATE)))"
            " AS BIGINT)"
        ).alias("days")
    )
    bands = tenure.groupBy(
        F.expr("LEAST(days div 30, CAST(9 AS BIGINT))").alias("x")
    ).agg(F.count("*").cast("bigint").alias("d_x"))
    grid = spark.range(10).select(F.col("id").cast("bigint").alias("x"))
    full_t = grid.join(bands, "x", "left").select(
        "x", F.coalesce("d_x", F.lit(0)).cast("bigint").alias("d_x")
    )
    lt = full_t.select(
        "x",
        "d_x",
        F.sum("d_x")
        .over(
            Window.orderBy(F.desc("x")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
        .alias("l_x"),
    )
    ex = lt.select(
        "x",
        "d_x",
        "l_x",
        F.coalesce(
            F.sum("l_x").over(
                Window.orderBy("x").rowsBetween(
                    1, Window.unboundedFollowing
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("tail_l"),
    )
    return ex.select(
        "x",
        "l_x",
        "d_x",
        F.expr(
            "CAST(CASE WHEN l_x = 0 THEN 0"
            " ELSE d_x * 1000000 div l_x END AS BIGINT)"
        ).alias("q_x_micro"),
        F.expr(
            "CAST(CASE WHEN l_x = 0 THEN 0"
            " ELSE tail_l * 1000000 div l_x END AS BIGINT)"
        ).alias("e_x_micro_bands"),
    ).orderBy("x")


@query(
    "a217_ams_f2_sketch",
    oracle="""
WITH toks AS (
  SELECT w FROM documents,
       UNNEST(string_split_regex(trim(text), '\\s+')) AS t(w)
  WHERE w <> ''
), cnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
), exact AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_vocab,
         CAST(SUM(c * c) AS BIGINT) AS f2
  FROM cnt
), signs AS (
  SELECT k.k,
         CAST(SUM((1 - 2 * (('0x' || substr(md5('ams' || CAST(k.k AS
              VARCHAR) || '|' || w), 1, 15))::BIGINT % 2)) * c)
              AS BIGINT) AS s_k
  FROM cnt, UNNEST(generate_series(0, 15)) AS k(k)
  GROUP BY k.k
), est AS (
  SELECT CAST(SUM(s_k * s_k) AS BIGINT) AS est16 FROM signs
)
SELECT e.n_tokens, e.n_vocab, e.f2,
       x.est16,
       ROUND(ABS(CAST(x.est16 AS DOUBLE) / 16 / e.f2 - 1), 6)
         AS rel_err_r
FROM exact e CROSS JOIN est x
""",
    tags=("sketch", "documents", "text"),
)
def a217_ams_f2_sketch(spark, sf_dir):
    """AMS (Alon–Matias–Szegedy) second-frequency-moment sketch audit
    over the document word stream: 16 independent estimators s_k =
    sum_w sign_k(w)*c_w with md5-derived ±1 signs, averaged as
    est16/16, against the EXACT F2 = sum c_w² — the sketch family
    member missing from the engine's Bloom / Count-Min / HLL / KMV
    audits (q262, q161, a567, q330): F2 is self-join size, the quantity
    a join-cardinality advisor wants cheaply. Everything is exact
    BIGINT (signs are exact, the 16 fold sums are integers, est16 is an
    integer); only the terminal relative error is one double division.
    Headroom: |s_k| <= total tokens, so s_k² stays inside int64 through
    ~3e9-token corpora — same budget as the exact F2 itself.
    Cites reference semantics: none (grouper core.clj has no sketch
    surface); standard AMS construction from the 1996 paper."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
    )
    cnt = toks.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    cnt = cnt.localCheckpoint(eager=False)
    exact = cnt.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_vocab"),
        F.sum(F.expr("c * c")).cast("bigint").alias("f2"),
    )
    signs = (
        cnt.select(
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("k"),
            "w",
            "c",
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.expr(
                    "(1 - 2 * (CAST(conv(substring(md5(concat('ams',"
                    " CAST(k AS STRING), '|', w)), 1, 15), 16, 10)"
                    " AS BIGINT) % 2)) * c"
                )
            )
            .cast("bigint")
            .alias("s_k")
        )
    )
    est = signs.agg(
        F.sum(F.expr("s_k * s_k")).cast("bigint").alias("est16")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_tokens",
        "n_vocab",
        "f2",
        "est16",
        F.round(
            F.expr("ABS(CAST(est16 AS DOUBLE) / 16 / f2 - 1)"), 6
        ).alias("rel_err_r"),
    )


@query(
    "a218_rendezvous_hashing",
    oracle="""
WITH w AS (
  SELECT doc_id,
         ('0x' || substr(md5('hrw|0|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w0,
         ('0x' || substr(md5('hrw|1|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w1,
         ('0x' || substr(md5('hrw|2|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w2,
         ('0x' || substr(md5('hrw|3|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w3,
         ('0x' || substr(md5('hrw|4|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w4,
         ('0x' || substr(md5('hrw|5|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w5,
         ('0x' || substr(md5('hrw|6|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w6,
         ('0x' || substr(md5('hrw|7|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS w7,
         ('0x' || substr(md5('mod|' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS hm
  FROM documents
), asg AS (
  SELECT doc_id, hm,
         CASE GREATEST(w0, w1, w2, w3, w4, w5, w6, w7)
              WHEN w0 THEN 0 WHEN w1 THEN 1 WHEN w2 THEN 2
              WHEN w3 THEN 3 WHEN w4 THEN 4 WHEN w5 THEN 5
              WHEN w6 THEN 6 ELSE 7 END AS node,
         CASE GREATEST(w1, w2, w3, w4, w5, w6, w7)
              WHEN w1 THEN 1 WHEN w2 THEN 2 WHEN w3 THEN 3
              WHEN w4 THEN 4 WHEN w5 THEN 5 WHEN w6 THEN 6
              ELSE 7 END AS node_drop0,
         hm % 8 AS node_mod, hm % 7 AS node_mod7
  FROM w
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN node = 0 THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) AS BIGINT) AS hrw_remap_ppm,
         CAST(SUM(CASE WHEN node_mod % 7 <> node_mod7
                       OR node_mod = 7 THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) AS BIGINT) AS mod_remap_ppm
  FROM asg
)
SELECT a.node, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) * 1000000 // MAX(s.n) AS BIGINT) AS share_ppm,
       MAX(s.hrw_remap_ppm) AS hrw_remap_ppm,
       MAX(s.mod_remap_ppm) AS mod_remap_ppm
FROM asg a CROSS JOIN scal s
GROUP BY a.node
ORDER BY a.node
""",
    tags=("systems", "sharding", "documents"),
)
def a218_rendezvous_hashing(spark, sf_dir):
    """Rendezvous (highest-random-weight) sharding audit over document
    ids: each doc goes to the node with the max md5 weight among 8
    virtual nodes — one projection with 8 hashes, NO shuffle besides
    the final 8-row census. Reports per-node balance (share_ppm ~
    125000 each) and the sharding system's headline property: removing
    node 0 remaps EXACTLY the docs that lived on node 0 (hrw_remap_ppm
    ~ 1/8) because every other doc's argmax is unchanged, while the
    naive mod-N baseline remaps ~7/8 of ALL docs (mod_remap_ppm: h%8
    vs h%7 disagree almost everywhere). Companion to consistent
    hashing (q303) — HRW is the variant with perfect balance and no
    ring metadata; everything is md5-exact and SQL-re-derivable."""
    d = table(spark, sf_dir, "documents")
    def h(tag):
        return (
            f"CAST(conv(substring(md5(concat('{tag}|',"
            " CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )
    w = d.select(
        "doc_id",
        *[F.expr(h(f"hrw|{i}")).alias(f"w{i}") for i in range(8)],
        F.expr(h("mod")).alias("hm"),
    )
    asg = w.select(
        "doc_id",
        "hm",
        F.expr(
            "CASE GREATEST(w0, w1, w2, w3, w4, w5, w6, w7)"
            " WHEN w0 THEN 0 WHEN w1 THEN 1 WHEN w2 THEN 2"
            " WHEN w3 THEN 3 WHEN w4 THEN 4 WHEN w5 THEN 5"
            " WHEN w6 THEN 6 ELSE 7 END"
        ).alias("node"),
        F.expr("hm % 8").alias("node_mod"),
        F.expr("hm % 7").alias("node_mod7"),
    ).localCheckpoint(eager=False)
    scal = asg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "CAST(SUM(CASE WHEN node = 0 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("hrw_remap_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN node_mod % 7 <> node_mod7"
            " OR node_mod = 7 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("mod_remap_ppm"),
    )
    return (
        asg.crossJoin(F.broadcast(scal))
        .groupBy("node")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(COUNT(*) * 1000000 div MAX(n) AS BIGINT)"
            ).alias("share_ppm"),
            F.max("hrw_remap_ppm").alias("hrw_remap_ppm"),
            F.max("mod_remap_ppm").alias("mod_remap_ppm"),
        )
        .orderBy("node")
    )


@query(
    "a219_l_diversity_tcloseness",
    oracle="""
WITH cells AS (
  SELECT c.c_mktsegment AS seg, n.n_name, o.o_orderpriority AS pri,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2, 3
), gl AS (
  SELECT pri, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM cells GROUP BY 1
), gtot AS (
  SELECT CAST(SUM(gcnt) AS BIGINT) AS gn FROM gl
), gcum AS (
  SELECT pri,
         CAST(SUM(gcnt) OVER (ORDER BY pri
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gcum
  FROM gl
), ccum AS (
  SELECT seg, n_name, pri, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY seg, n_name ORDER BY pri
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ccum,
         CAST(SUM(cnt) OVER (PARTITION BY seg, n_name) AS BIGINT) AS k
  FROM cells
), lvl AS (
  SELECT c.seg, c.n_name, c.k,
         ABS(c.ccum * 1000000 // c.k - g.gcum * 1000000 // t.gn)
           AS emd_term,
         c.cnt
  FROM ccum c JOIN gcum g ON c.pri = g.pri CROSS JOIN gtot t
), ent AS (
  SELECT seg, n_name, MAX(k) AS k,
         CAST(COUNT(*) AS BIGINT) AS l_distinct,
         ROUND(-SUM((CAST(cnt AS DOUBLE) / k)
                    * LN(CAST(cnt AS DOUBLE) / k)), 6) AS entropy_r,
         CAST(SUM(emd_term) // 4 AS BIGINT) AS t_micro
  FROM lvl
  GROUP BY seg, n_name
)
SELECT seg, n_name, k, l_distinct, entropy_r, t_micro,
       CASE WHEN l_distinct >= 3 THEN 1 ELSE 0 END AS l3_ok,
       CASE WHEN t_micro <= 200000 THEN 1 ELSE 0 END AS t02_ok
FROM ent
ORDER BY seg, n_name
""",
    tags=("privacy", "audit"),
)
def a219_l_diversity_tcloseness(spark, sf_dir):
    """l-diversity and t-closeness audit — the two standard refinements
    of k-anonymity (q260 covers k) for quasi-identifier classes (market
    segment x nation) against the sensitive attribute order priority:
    l_distinct = distinct sensitive values per class (homogeneity-attack
    resistance), entropy (entropy-l-diversity, one ln per class-level
    on exact rationals), and t-closeness as the exact ordinal EMD
    between the class's priority distribution and the global one
    (mean |cumulative-share gap| over the 4 interior boundaries, in
    integer micro). One groupBy to <= 125 x 5 cells bounds everything;
    the per-class entropy SUM spans <= 5 doubles inside one group —
    each term is formed from exact integers, and the 5-term sum is
    inside a single hash-aggregate group so its order is the pri-join
    order... emitted through a terminal round(,6) with magnitudes ~1,
    where 5-term reassociation noise (~1e-16) cannot reach the 6th
    decimal."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            "n_name",
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    glob = cells.groupBy("pri").agg(
        F.sum("cnt").cast("bigint").alias("gcnt")
    )
    gtot = glob.agg(F.sum("gcnt").cast("bigint").alias("gn"))
    gcum = glob.select(
        "pri",
        F.sum("gcnt")
        .over(
            Window.orderBy("pri").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("gcum"),
    )
    ccum = cells.select(
        "seg",
        "n_name",
        "pri",
        "cnt",
        F.sum("cnt")
        .over(
            Window.partitionBy("seg", "n_name")
            .orderBy("pri")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("ccum"),
        F.sum("cnt")
        .over(Window.partitionBy("seg", "n_name"))
        .cast("bigint")
        .alias("k"),
    )
    lvl = (
        ccum.join(F.broadcast(gcum), "pri")
        .crossJoin(F.broadcast(gtot))
        .select(
            "seg",
            "n_name",
            "k",
            F.expr(
                "ABS(ccum * 1000000 div k - gcum * 1000000 div gn)"
            ).alias("emd_term"),
            "cnt",
        )
    )
    ent = lvl.groupBy("seg", "n_name").agg(
        F.max("k").alias("k"),
        F.count("*").cast("bigint").alias("l_distinct"),
        F.round(
            -F.sum(
                F.expr(
                    "(CAST(cnt AS DOUBLE) / k)"
                    " * LN(CAST(cnt AS DOUBLE) / k)"
                )
            ),
            6,
        ).alias("entropy_r"),
        F.expr("CAST(SUM(emd_term) div 4 AS BIGINT)").alias("t_micro"),
    )
    return ent.select(
        "seg",
        "n_name",
        "k",
        "l_distinct",
        "entropy_r",
        "t_micro",
        F.expr("CASE WHEN l_distinct >= 3 THEN 1 ELSE 0 END").alias(
            "l3_ok"
        ),
        F.expr("CASE WHEN t_micro <= 200000 THEN 1 ELSE 0 END").alias(
            "t02_ok"
        ),
    ).orderBy("seg", "n_name")


@query(
    "a220_dedup_scaling_curve",
    oracle="""
WITH fp AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f,
         ('0x' || substr(md5('sc|' || CAST(doc_id AS VARCHAR)), 1, 1))
           ::BIGINT AS nib
  FROM documents
), per_fp AS (
  SELECT f, CAST(MIN(nib) AS BIGINT) AS min_nib,
         CAST(SUM(CASE WHEN nib < 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN nib < 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN nib < 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(SUM(CASE WHEN nib < 8 THEN 1 ELSE 0 END) AS BIGINT) AS c8,
         CAST(COUNT(*) AS BIGINT) AS c16
  FROM fp GROUP BY f
), agg AS (
  SELECT s.s,
         CAST(SUM(CASE s.s WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 4 THEN c4
                           WHEN 8 THEN c8 ELSE c16 END) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN min_nib < s.s AND (CASE s.s WHEN 1 THEN c1
                   WHEN 2 THEN c2 WHEN 4 THEN c4 WHEN 8 THEN c8
                   ELSE c16 END) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
  FROM per_fp CROSS JOIN (SELECT UNNEST([1, 2, 4, 8, 16]) AS s) s
  GROUP BY s.s
), pts AS (
  SELECT s, n, v, n - v AS dups,
         CAST((n - v) * 1000000 // n AS BIGINT) AS dup_ppm,
         LN(CAST(n AS DOUBLE)) AS lx,
         LN(CAST(n - v + 1 AS DOUBLE)) AS ly
  FROM agg
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
  FROM pts
)
SELECT p.s AS subset_16ths, p.n AS n_docs, p.v AS n_distinct,
       p.dups, p.dup_ppm,
       ROUND((f.m * f.sxy - f.sx * f.sy)
             / (f.m * f.sxx - f.sx * f.sx), 6) AS scaling_exponent_r
FROM pts p CROSS JOIN fit f
ORDER BY p.s
""",
    tags=("dedup", "documents", "scaling"),
)
def a220_dedup_scaling_curve(spark, sf_dir):
    """Duplicate-mass scaling curve: exact-dup counts on NESTED
    md5-nibble subsets of the corpus (1/16, 2/16, 4/16, 8/16, all) and
    the log-log slope of duplicates vs corpus size — the measured
    scaling-law exponent that says how dedup burden grows as you ingest
    more (superlinear exponent > 1 = duplication concentrates; the
    number a 100 TB capacity plan extrapolates from). The whole curve
    is ONE shuffle: group by normalized-text fingerprint once, carry a
    per-fingerprint nibble histogram, then distinct-at-subset-s = (min
    nibble < s), member count = the histogram prefix — never five
    corpus scans. Heaps' law (q243) tracks vocabulary growth; this
    tracks duplicate growth. The 5-point OLS runs on ln of exact
    integers (ln ulp noise ~1e-16 is far below the 6dp round)."""
    d = table(spark, sf_dir, "documents")
    fp = d.select(
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("f"),
        F.expr(
            "CAST(conv(substring(md5(concat('sc|',"
            " CAST(doc_id AS STRING))), 1, 1), 16, 10) AS BIGINT)"
        ).alias("nib"),
    )
    per_fp = fp.groupBy("f").agg(
        F.min("nib").cast("bigint").alias("min_nib"),
        F.sum(F.expr("CASE WHEN nib < 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.expr("CASE WHEN nib < 2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c2"),
        F.sum(F.expr("CASE WHEN nib < 4 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c4"),
        F.sum(F.expr("CASE WHEN nib < 8 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("c8"),
        F.count("*").cast("bigint").alias("c16"),
    )
    sizes = spark.range(5).select(
        F.expr("element_at(array(1, 2, 4, 8, 16), CAST(id + 1 AS INT))")
        .cast("bigint")
        .alias("s")
    )
    sel = (
        "CASE s WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 4 THEN c4"
        " WHEN 8 THEN c8 ELSE c16 END"
    )
    agg = (
        per_fp.crossJoin(F.broadcast(sizes))
        .groupBy("s")
        .agg(
            F.sum(F.expr(sel)).cast("bigint").alias("n"),
            F.sum(
                F.expr(
                    f"CASE WHEN min_nib < s AND ({sel}) > 0"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("v"),
        )
    )
    pts = agg.select(
        "s",
        "n",
        "v",
        F.expr("n - v").alias("dups"),
        F.expr("CAST((n - v) * 1000000 div n AS BIGINT)").alias("dup_ppm"),
        F.expr("LN(CAST(n AS DOUBLE))").alias("lx"),
        F.expr("LN(CAST(n - v + 1 AS DOUBLE))").alias("ly"),
    ).localCheckpoint(eager=False)
    fit = pts.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("lx * lx")).alias("sxx"),
        F.sum(F.expr("lx * ly")).alias("sxy"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("s").alias("subset_16ths"),
            F.col("n").alias("n_docs"),
            F.col("v").alias("n_distinct"),
            "dups",
            "dup_ppm",
            F.round(
                F.expr(
                    "(m * sxy - sx * sy) / (m * sxx - sx * sx)"
                ),
                6,
            ).alias("scaling_exponent_r"),
        )
        .orderBy("subset_16ths")
    )


@query(
    "a226_ripley_k",
    oracle="""
WITH pts0 AS (
  SELECT c_custkey,
         ('0x' || substr(md5('rk|' || CAST(c_custkey AS VARCHAR)), 1, 15))
           ::BIGINT AS hv,
         ('0x' || substr(md5('rx|' || CAST(c_custkey AS VARCHAR)), 1, 15))
           ::BIGINT % 1000000 AS x,
         ('0x' || substr(md5('ry|' || CAST(c_custkey AS VARCHAR)), 1, 15))
           ::BIGINT % 1000000 AS y
  FROM customer
), pts AS (
  SELECT c_custkey AS pid, x, y FROM pts0 ORDER BY hv, c_custkey LIMIT 2048
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts
), radii AS (
  SELECT CAST(UNNEST([25000, 50000, 100000]) AS BIGINT) AS r
), pair AS (
  SELECT r.r,
         CAST(SUM(CASE WHEN (a.x - b.x) * (a.x - b.x)
                          + (a.y - b.y) * (a.y - b.y) <= r.r * r.r
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_within
  FROM pts a CROSS JOIN pts b CROSS JOIN radii r
  WHERE a.pid < b.pid
  GROUP BY r.r
)
SELECT p.r, s.n, p.n_within,
       CAST(FLOOR(CAST(1000000 AS DOUBLE) * 1000000 * 2 * p.n_within
                  / (CAST(s.n AS DOUBLE) * (s.n - 1))) AS BIGINT)
         AS k_hat_floor,
       ROUND(SQRT(CAST(1000000 AS DOUBLE) * 1000000 * 2 * p.n_within
                  / (CAST(s.n AS DOUBLE) * (s.n - 1)) / PI()) - p.r, 6)
         AS l_minus_r_r
FROM pair p CROSS JOIN scal s
ORDER BY p.r
""",
    tags=("inference", "spatial"),
)
def a226_ripley_k(spark, sf_dir):
    """Ripley's K / L spatial clustering statistic on an md5-planted
    point field (2048 hash-selected customers placed uniformly on a
    1e6 x 1e6 grid — complete spatial randomness by construction, so
    L(r) - r should hover near 0 and the statistic is fully
    SQL-re-derivable): K_hat(r) = A * 2 * pairs_within(r) / (n(n-1)) at
    three radii. The panel is rank-bounded at 2048 points at ANY corpus
    scale, so the pair stage is a fixed ~2M-comparison brute force with
    exact integer distance tests; K_hat reaches ~3e10 where 6dp
    rounding exceeds double resolution, so it is FLOOR'd to a BIGINT
    (the a221 recipe) while the O(1e3)-magnitude L(r) - r keeps its
    round(,6). Grid-cell machinery for sf-scaled spatial joins lives in
    q222; this is the bounded-panel STATISTIC on top."""
    c = table(spark, sf_dir, "customer")
    def h(tag):
        return (
            f"CAST(conv(substring(md5(concat('{tag}|',"
            " CAST(c_custkey AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )
    pts0 = c.select(
        "c_custkey",
        F.expr(h("rk")).alias("hv"),
        F.expr(h("rx") + " % 1000000").alias("x"),
        F.expr(h("ry") + " % 1000000").alias("y"),
    )
    pts = (
        pts0.orderBy("hv", "c_custkey")
        .limit(2048)
        .select(F.col("c_custkey").alias("pid"), "x", "y")
        .localCheckpoint(eager=False)
    )
    scal = pts.agg(F.count("*").cast("bigint").alias("n"))
    radii = spark.range(3).select(
        F.expr(
            "CAST(element_at(array(25000, 50000, 100000),"
            " CAST(id + 1 AS INT)) AS BIGINT)"
        ).alias("r")
    )
    a = pts.alias("a")
    b = pts.alias("b")
    pair = (
        a.crossJoin(b)
        .filter(F.expr("a.pid < b.pid"))
        .crossJoin(F.broadcast(radii))
        .groupBy("r")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN (a.x - b.x) * (a.x - b.x)"
                    " + (a.y - b.y) * (a.y - b.y) <= r * r"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_within")
        )
    )
    return (
        pair.crossJoin(F.broadcast(scal))
        .select(
            "r",
            "n",
            "n_within",
            F.expr(
                "CAST(FLOOR(CAST(1000000 AS DOUBLE) * 1000000 * 2"
                " * n_within / (CAST(n AS DOUBLE) * (n - 1))) AS BIGINT)"
            ).alias("k_hat_floor"),
            F.round(
                F.expr(
                    "SQRT(CAST(1000000 AS DOUBLE) * 1000000 * 2"
                    " * n_within / (CAST(n AS DOUBLE) * (n - 1)) / PI())"
                    " - r"
                ),
                6,
            ).alias("l_minus_r_r"),
        )
        .orderBy("r")
    )


@query(
    "a216_twin_alignment_audit",
    oracle="""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         ('0x' || substr(md5('al|' || CAST(vec_id AS VARCHAR)), 1, 15))
           ::BIGINT AS hv
  FROM embeddings
), panel AS (
  SELECT vec_id, v FROM base ORDER BY hv, vec_id LIMIT 256
), tw AS (
  SELECT vec_id, v,
         list_prepend(v[1] + CAST(0.02 AS DOUBLE)
           + CAST((('0x' || substr(md5('tw|' || CAST(vec_id AS VARCHAR)),
                    1, 15))::BIGINT % 60001) AS DOUBLE) / 1e6,
           v[2:]) AS tv
  FROM panel
), uf AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(ROUND(1000.0 * x
           / sqrt(list_dot_product(v, v)), 0) AS BIGINT)) AS uf,
         list_transform(tv, x -> CAST(ROUND(1000.0 * x
           / sqrt(list_dot_product(tv, tv)), 0) AS BIGINT)) AS tuf
  FROM tw
), twin_d AS (
  SELECT CAST(SUM(d2) AS BIGINT) AS sum_d2t,
         CAST(COUNT(*) AS BIGINT) AS n_panel
  FROM (
    SELECT list_reduce(list_transform(range(64), q ->
             (uf[q + 1] - tuf[q + 1]) * (uf[q + 1] - tuf[q + 1])),
             (acc, t) -> acc + t) AS d2
    FROM uf
  )
), pair AS (
  SELECT LEAST(list_reduce(list_transform(range(64), q ->
           (a.uf[q + 1] - b.uf[q + 1]) * (a.uf[q + 1] - b.uf[q + 1])),
           (acc, t) -> acc + t) * 16 // 4000000, 15) AS bin,
         (4000000 - list_reduce(list_transform(range(64), q ->
           (a.uf[q + 1] - b.uf[q + 1]) * (a.uf[q + 1] - b.uf[q + 1])),
           (acc, t) -> acc + t)) AS w
  FROM uf a JOIN uf b ON a.vec_id < b.vec_id
), pscal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(w * w) // COUNT(*) AS BIGINT) AS uniformity_proxy
  FROM pair
), grid AS (
  SELECT CAST(g AS BIGINT) AS bin FROM UNNEST(generate_series(0, 15)) t(g)
), hist AS (
  SELECT gr.bin, CAST(COALESCE(COUNT(p.bin), 0) AS BIGINT) AS n_in_bin
  FROM grid gr LEFT JOIN pair p ON p.bin = gr.bin
  GROUP BY gr.bin
)
SELECT h.bin, h.n_in_bin, t.n_panel,
       CAST(t.sum_d2t // t.n_panel AS BIGINT) AS alignment_md2,
       s.n_pairs, s.uniformity_proxy
FROM hist h CROSS JOIN twin_d t CROSS JOIN pscal s
ORDER BY h.bin
""",
    tags=("similarity", "embedding", "audit"),
)
def a216_twin_alignment_audit(spark, sf_dir):
    """Alignment/uniformity audit of the embedding space (the Wang–
    Isola contrastive-representation diagnostics, exact-arithmetic
    edition): ALIGNMENT = mean squared distance between 256
    hash-panelled vectors and their md5-planted near-dup twins (the
    q83 planting recipe — positives should be close), UNIFORMITY =
    mean (4e6 - d²)² over all panel pairs plus the 16-bin pair-distance
    histogram (points should spread; a mass pile-up in low bins is the
    collapsed-cone pathology a570's isotropy audit sees from a
    different angle). Unit vectors are milli-fixed via the q39-proven
    sqrt-dot fold, so every pairwise d² is an exact BIGINT array fold
    (zip_with + integer aggregate — no explode, no order-sensitive
    double sum); the panel is rank-bounded at 256 so the pair stage is
    a fixed 32640 comparisons at ANY corpus scale."""
    from ..functions.vector import unit_fixed

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.expr(
            "CAST(conv(substring(md5(concat('al|',"
            " CAST(vec_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    panel = e.orderBy("hv", "vec_id").limit(256).select("vec_id", "v")
    delta = F.expr(
        "CAST(0.02 AS DOUBLE)"
        " + CAST((CAST(conv(substring(md5(concat('tw|',"
        " CAST(vec_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        " % 60001) AS DOUBLE) / 1e6"
    )
    tw = panel.select(
        "vec_id",
        "v",
        F.concat(
            F.array(F.element_at("v", 1) + delta), F.slice("v", 2, 63)
        ).alias("tv"),
    )
    uf = tw.select(
        "vec_id",
        unit_fixed("v", 1000.0).alias("uf"),
        unit_fixed("tv", 1000.0).alias("tuf"),
    ).localCheckpoint(eager=False)
    d2_twin = F.expr(
        "aggregate(zip_with(uf, tuf, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    twin_d = uf.select(d2_twin.alias("d2")).agg(
        F.sum("d2").cast("bigint").alias("sum_d2t"),
        F.count("*").cast("bigint").alias("n_panel"),
    )
    a = uf.select(F.col("vec_id").alias("ida"), F.col("uf").alias("ua"))
    b = uf.select(F.col("vec_id").alias("idb"), F.col("uf").alias("ub"))
    d2_pair = F.expr(
        "aggregate(zip_with(ua, ub, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    pair = (
        a.join(b, F.col("ida") < F.col("idb"))
        .select(d2_pair.alias("d2"))
        .select(
            F.expr(
                "LEAST(d2 * 16 div 4000000, CAST(15 AS BIGINT))"
            ).alias("bin"),
            F.expr("4000000 - d2").alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    pscal = pair.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(SUM(w * w) div COUNT(*) AS BIGINT)"
        ).alias("uniformity_proxy"),
    )
    grid = spark.range(16).select(F.col("id").cast("bigint").alias("bin"))
    hist = (
        grid.join(pair, "bin", "left")
        .groupBy("bin")
        .agg(F.count("w").cast("bigint").alias("n_in_bin"))
    )
    return (
        hist.crossJoin(F.broadcast(twin_d))
        .crossJoin(F.broadcast(pscal))
        .select(
            "bin",
            "n_in_bin",
            "n_panel",
            F.expr("CAST(sum_d2t div n_panel AS BIGINT)").alias(
                "alignment_md2"
            ),
            "n_pairs",
            "uniformity_proxy",
        )
        .orderBy("bin")
    )


@query(
    "a229_cka_quantization_audit",
    oracle="""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         ('0x' || substr(md5('ck|' || CAST(vec_id AS VARCHAR)), 1, 15))
           ::BIGINT AS hv
  FROM embeddings
), panel AS (
  SELECT vec_id, v FROM base ORDER BY hv, vec_id LIMIT 256
), uf AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(ROUND(1000.0 * x
           / sqrt(list_dot_product(v, v)), 0) AS BIGINT)) AS uf
  FROM panel
), comp AS (
  SELECT vec_id, i AS d, uf[i] AS x,
         CAST(FLOOR(uf[i] * 127.0 / 1000 + 0.5) AS BIGINT) AS y
  FROM uf, UNNEST(generate_series(1, 64)) AS t(i)
), dims AS (
  SELECT d, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM comp GROUP BY d
), cross_m AS (
  SELECT a.d AS da, b.d AS db,
         CAST(SUM(a.x * b.x) AS BIGINT) AS sxx,
         CAST(SUM(a.x * b.y) AS BIGINT) AS sxy,
         CAST(SUM(a.y * b.y) AS BIGINT) AS syy
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id
  GROUP BY a.d, b.d
), cent AS (
  SELECT CAST(FLOOR((da_.n * c.sxx - da_.sx * db_.sx) / 1000.0 + 0.5)
              AS BIGINT) AS cxx,
         CAST(FLOOR((da_.n * c.sxy - da_.sx * db_.sy) / 1000.0 + 0.5)
              AS BIGINT) AS cxy,
         CAST(FLOOR((da_.n * c.syy - da_.sy * db_.sy) / 1000.0 + 0.5)
              AS BIGINT) AS cyy
  FROM cross_m c
  JOIN dims da_ ON c.da = da_.d
  JOIN dims db_ ON c.db = db_.d
), fro AS (
  SELECT CAST(SUM(cxx * cxx) AS BIGINT) AS fxx,
         CAST(SUM(cxy * cxy) AS BIGINT) AS fxy,
         CAST(SUM(cyy * cyy) AS BIGINT) AS fyy,
         CAST(COUNT(*) AS BIGINT) AS n_cells
  FROM cent
)
SELECT 256 AS n_panel, n_cells,
       ROUND(CAST(fxy AS DOUBLE)
             / (SQRT(CAST(fxx AS DOUBLE)) * SQRT(CAST(fyy AS DOUBLE))),
             6) AS cka_r
FROM fro
""",
    tags=("similarity", "embedding", "audit"),
)
def a229_cka_quantization_audit(spark, sf_dir):
    """Linear CKA (centered kernel alignment) between the embedding
    space and its int8-quantized copy on a 256-vector hash panel: CKA =
    ||X'Y||F² / (||X'X||F ||Y'Y||F) over CENTERED features — the
    representation-similarity metric that answers 'did int8
    quantization change the GEOMETRY?' where q89's roundtrip error only
    answers 'did the coordinates move?'. A CKA near 1 certifies the
    quantized index is geometrically faithful. All 64x64x3 cross-moment
    matrices are exact BIGINT folds over milli-fixed unit coordinates
    (the a570 recipe); int8 codes derive from the SAME fixed-point ints
    via the tie-safe floor(x+0.5) half-up (never engine ROUND on a .5
    boundary); centered cells are scaled by floor(c/1000+0.5) so the
    Frobenius squares stay inside int64 — every sum is
    order-insensitive integer arithmetic, with three scalar doubles at
    the end. The dim-pair fan-out is 256 x 64 x 64 = 1M rows at ANY
    corpus scale."""
    from ..functions.vector import unit_fixed

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.expr(
            "CAST(conv(substring(md5(concat('ck|',"
            " CAST(vec_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    panel = e.orderBy("hv", "vec_id").limit(256).select("vec_id", "v")
    uf = panel.select("vec_id", unit_fixed("v", 1000.0).alias("uf"))
    comp = uf.select(
        "vec_id", F.posexplode("uf").alias("d0", "x")
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        "x",
        F.expr(
            "CAST(FLOOR(x * 127.0 / 1000 + 0.5) AS BIGINT)"
        ).alias("y"),
    ).localCheckpoint(eager=False)
    dims = comp.groupBy("d").agg(
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.count("*").cast("bigint").alias("n"),
    )
    a = comp.select(
        F.col("vec_id").alias("vid"), F.col("d").alias("da"),
        F.col("x").alias("xa"), F.col("y").alias("ya"),
    )
    b = comp.select(
        F.col("vec_id").alias("vid"), F.col("d").alias("db"),
        F.col("x").alias("xb"), F.col("y").alias("yb"),
    )
    cross_m = (
        a.join(b, "vid")
        .groupBy("da", "db")
        .agg(
            F.sum(F.expr("xa * xb")).cast("bigint").alias("sxx"),
            F.sum(F.expr("xa * yb")).cast("bigint").alias("sxy"),
            F.sum(F.expr("ya * yb")).cast("bigint").alias("syy"),
        )
    )
    da_ = dims.select(
        F.col("d").alias("da"), F.col("sx").alias("sxa"),
        F.col("sy").alias("sya"), "n",
    )
    db_ = dims.select(
        F.col("d").alias("db"), F.col("sx").alias("sxb"),
        F.col("sy").alias("syb"),
    )
    cent = (
        cross_m.join(F.broadcast(da_), "da")
        .join(F.broadcast(db_), "db")
        .select(
            F.expr(
                "CAST(FLOOR((n * sxx - sxa * sxb) / 1000.0 + 0.5)"
                " AS BIGINT)"
            ).alias("cxx"),
            F.expr(
                "CAST(FLOOR((n * sxy - sxa * syb) / 1000.0 + 0.5)"
                " AS BIGINT)"
            ).alias("cxy"),
            F.expr(
                "CAST(FLOOR((n * syy - sya * syb) / 1000.0 + 0.5)"
                " AS BIGINT)"
            ).alias("cyy"),
        )
    )
    fro = cent.agg(
        F.sum(F.expr("cxx * cxx")).cast("bigint").alias("fxx"),
        F.sum(F.expr("cxy * cxy")).cast("bigint").alias("fxy"),
        F.sum(F.expr("cyy * cyy")).cast("bigint").alias("fyy"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    return fro.select(
        F.lit(256).alias("n_panel"),
        "n_cells",
        F.round(
            F.expr(
                "CAST(fxy AS DOUBLE)"
                " / (SQRT(CAST(fxx AS DOUBLE)) * SQRT(CAST(fyy AS DOUBLE)))"
            ),
            6,
        ).alias("cka_r"),
    )


@query(
    "a230_preference_cycles",
    oracle="""
WITH top_parts AS (
  SELECT l_partkey AS pk
  FROM lineitem GROUP BY 1
  ORDER BY COUNT(*) DESC, l_partkey LIMIT 12
), cp AS (
  SELECT o.o_custkey AS ck, l.l_partkey AS pk,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN top_parts t ON l.l_partkey = t.pk
  GROUP BY 1, 2
), duel AS (
  SELECT a.pk AS pa, b.pk AS pb,
         CAST(SUM(CASE WHEN a.cnt > b.cnt THEN 1 ELSE 0 END) AS BIGINT)
           AS w_ab,
         CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1 ELSE 0 END) AS BIGINT)
           AS w_ba
  FROM cp a JOIN cp b ON a.ck = b.ck AND a.pk < b.pk
  GROUP BY 1, 2
), rel AS (
  SELECT pa, pb,
         CASE WHEN w_ab > w_ba THEN 1
              WHEN w_ba > w_ab THEN -1 ELSE 0 END AS pref
  FROM duel
), triads AS (
  SELECT r1.pref AS p_ab, r2.pref AS p_bc, r3.pref AS p_ac
  FROM rel r1
  JOIN rel r2 ON r2.pa = r1.pb
  JOIN rel r3 ON r3.pa = r1.pa AND r3.pb = r2.pb
), census AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triads,
         CAST(SUM(CASE WHEN p_ab = 0 OR p_bc = 0 OR p_ac = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_tied,
         CAST(SUM(CASE WHEN (p_ab = 1 AND p_bc = 1 AND p_ac = -1)
                         OR (p_ab = -1 AND p_bc = -1 AND p_ac = 1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cyclic
  FROM triads
)
SELECT 12 AS n_parts, n_triads, n_tied, n_cyclic,
       CAST(1000000 - n_cyclic * 1000000
            // GREATEST(n_triads - n_tied, 1) AS BIGINT)
         AS transitivity_ppm
FROM census
""",
    tags=("inference", "ranking"),
)
def a230_preference_cycles(spark, sf_dir):
    """Condorcet-cycle census over the customer part-preference
    tournament: pairwise majorities among the top-12 panel parts (A
    beats B if more both-buyers bought A more often), then the exact
    count of cyclic triads A>B>C>A among the C(12,3) = 220 triples —
    the intransitivity that Copeland ranking (a192) silently averages
    away; a high cycle rate means NO ranking is faithful. Strict
    majorities only (tied edges censused separately and excluded from
    the transitivity denominator). The duel stage is per-customer over
    a fixed 12-part panel (<= 66 pairs per customer); the triad stage
    is a 3-way join of a 66-row majority matrix — bounded at any
    corpus scale."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    top_parts = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "pk")
        .limit(12)
        .select("pk")
    )
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(top_parts), li.l_partkey == F.col("pk"))
        .groupBy(F.col("o_custkey").alias("ck"), "pk")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    a = cp.select(
        F.col("ck").alias("cka"), F.col("pk").alias("pa"),
        F.col("cnt").alias("ca"),
    )
    b = cp.select(
        F.col("ck").alias("ckb"), F.col("pk").alias("pb"),
        F.col("cnt").alias("cb"),
    )
    duel = (
        a.join(b, (F.col("cka") == F.col("ckb")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(
            F.sum(F.expr("CASE WHEN ca > cb THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("w_ab"),
            F.sum(F.expr("CASE WHEN cb > ca THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("w_ba"),
        )
    )
    rel = duel.select(
        "pa",
        "pb",
        F.expr(
            "CASE WHEN w_ab > w_ba THEN 1"
            " WHEN w_ba > w_ab THEN -1 ELSE 0 END"
        ).alias("pref"),
    ).localCheckpoint(eager=False)
    r1 = rel.select(
        F.col("pa").alias("x"), F.col("pb").alias("y"),
        F.col("pref").alias("p_ab"),
    )
    r2 = rel.select(
        F.col("pa").alias("y2"), F.col("pb").alias("z"),
        F.col("pref").alias("p_bc"),
    )
    r3 = rel.select(
        F.col("pa").alias("x3"), F.col("pb").alias("z3"),
        F.col("pref").alias("p_ac"),
    )
    triads = (
        r1.join(F.broadcast(r2), F.col("y") == F.col("y2"))
        .join(
            F.broadcast(r3),
            (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")),
        )
        .select("p_ab", "p_bc", "p_ac")
    )
    census = triads.agg(
        F.count("*").cast("bigint").alias("n_triads"),
        F.sum(
            F.expr(
                "CASE WHEN p_ab = 0 OR p_bc = 0 OR p_ac = 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_tied"),
        F.sum(
            F.expr(
                "CASE WHEN (p_ab = 1 AND p_bc = 1 AND p_ac = -1)"
                " OR (p_ab = -1 AND p_bc = -1 AND p_ac = 1)"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_cyclic"),
    )
    return census.select(
        F.lit(12).alias("n_parts"),
        "n_triads",
        "n_tied",
        "n_cyclic",
        F.expr(
            "CAST(1000000 - n_cyclic * 1000000"
            " div GREATEST(n_triads - n_tied, CAST(1 AS BIGINT))"
            " AS BIGINT)"
        ).alias("transitivity_ppm"),
    )


@query(
    "a231_crow_amsaa",
    oracle="""
WITH d0 AS (
  SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events
), pts AS (
  SELECT CAST(DATEDIFF('day', d.dmin, CAST(e.ts AS DATE)) + 1 AS BIGINT)
           AS t_day
  FROM events e CROSS JOIN d0 d
), mon AS (
  SELECT t_day AS t_end, CAST(COUNT(*) AS BIGINT) AS c
  FROM pts GROUP BY 1
), cum AS (
  SELECT t_end,
         CAST(SUM(c) OVER (ORDER BY t_end
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum
  FROM mon
), lg AS (
  SELECT LN(CAST(t_end AS DOUBLE)) AS lx,
         LN(CAST(n_cum AS DOUBLE)) AS ly
  FROM cum
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
  FROM lg
)
SELECT m AS n_points,
       ROUND(CASE WHEN m * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (m * sxy - sx * sy) / (m * sxx - sx * sx)
             END, 6) AS beta_r,
       ROUND(CASE WHEN m * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (sy - ((m * sxy - sx * sy)
                        / (m * sxx - sx * sx)) * sx) / m
             END, 6) AS ln_lambda_r,
       CASE WHEN m * sxx - sx * sx <> 0
             AND (m * sxy - sx * sy) / (m * sxx - sx * sx) < 1
            THEN 1 ELSE 0 END AS reliability_growth
FROM fit
""",
    tags=("inference", "reliability"),
)
def a231_crow_amsaa(spark, sf_dir):
    """Crow-AMSAA (Duane) reliability-growth fit on the cumulative
    event process: N(t) = lambda * t^beta estimated by the log-log OLS
    of cumulative counts at daily boundaries (the event fixture spans a
    single ~30-day window, so 30-day buckets would degenerate to one
    point; daily boundaries stay calendar-bounded at <= 2404) —
    beta < 1 means the
    inter-event rate is improving (reliability growth), beta > 1 means
    intensification; the standard NHPP power-law model next to the
    fixture's homogeneous-Poisson checks (q329 GOF, a401 Fano). The
    boundary panel is calendar-bounded at any corpus scale; cumulative counts are exact BIGINT window sums; ln runs
    once per boundary point on exact integers and the 2-moment OLS is
    scalar doubles into a terminal round(,6) — ln's 1-ulp cross-engine
    noise sits ~1e-10 below the 6th decimal at these magnitudes."""
    e = table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.col("ts").cast("date")).alias("dmin"))
    pts = e.crossJoin(F.broadcast(d0)).select(
        F.expr(
            "CAST(DATEDIFF(CAST(ts AS DATE), dmin) + 1 AS BIGINT)"
        ).alias("t_day")
    )
    mon = pts.groupBy(F.col("t_day").alias("t_end")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    cum = mon.select(
        "t_end",
        F.sum("c")
        .over(
            Window.orderBy("t_end").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
        .alias("n_cum"),
    )
    lg = cum.select(
        F.expr("LN(CAST(t_end AS DOUBLE))").alias("lx"),
        F.expr("LN(CAST(n_cum AS DOUBLE))").alias("ly"),
    )
    fit = lg.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("lx * lx")).alias("sxx"),
        F.sum(F.expr("lx * ly")).alias("sxy"),
    )
    return fit.select(
        F.col("m").alias("n_points"),
        F.round(
            F.expr(
                "CASE WHEN m * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE (m * sxy - sx * sy) / (m * sxx - sx * sx) END"
            ),
            6,
        ).alias("beta_r"),
        F.round(
            F.expr(
                "CASE WHEN m * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE (sy - ((m * sxy - sx * sy)"
                " / (m * sxx - sx * sx)) * sx) / m END"
            ),
            6,
        ).alias("ln_lambda_r"),
        F.expr(
            "CASE WHEN m * sxx - sx * sx <> 0"
            " AND (m * sxy - sx * sy) / (m * sxx - sx * sx) < 1"
            " THEN 1 ELSE 0 END"
        ).alias("reliability_growth"),
    )


# ---------------------------------------------------------------------------
# a232-a241: round-10 extension tranche — external cluster-evaluation
# metrics for dedup (B-cubed, V-measure), forecast-calibration testing,
# uneven-sampling spectral analysis, marketing adstock, rank dispersion,
# AFT survival fitting, randomness tests, variance-break detection, and
# renewal analysis. Same fixed-point/BIGINT discipline as a208-a231.
# ---------------------------------------------------------------------------

# Shared synthetic dedup-evaluation corpus: every document spawns a
# planted near-dup twin in family fam=doc_id. Twins of doc_id % 7 == 0
# get their edit PREPENDED (breaking a prefix-blocking key -> recall
# hits); all other twins get it APPENDED (prefix survives -> the block
# merges the family). Exact-dup texts across different doc_ids merge
# blocks across families -> precision hits. The predicted clustering
# under evaluation is the md5(first-40-chars) blocking key.
_CLUSTER_EVAL_SQL = """
  SELECT fam, MD5(SUBSTR(txt, 1, 40)) AS pred
  FROM (
    SELECT doc_id AS fam, LOWER(text) AS txt FROM documents
    UNION ALL
    SELECT doc_id AS fam,
           CASE WHEN doc_id % 7 = 0 THEN 'zq ' || LOWER(text)
                ELSE LOWER(text) || ' zq' END AS txt
    FROM documents
  )
"""


def _cluster_eval_contingency(spark, sf_dir):
    """(pred, fam, npg) contingency of the planted-twin blocking corpus,
    plus per-cluster (np), per-family (ng) and total (n) marginals as
    separate tiny aggregates. One corpus pass builds the contingency;
    marginals aggregate the contingency, never the corpus."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.lower("text").alias("txt")
    )
    aug = docs.select(
        F.col("doc_id").alias("fam"), F.col("txt")
    ).unionAll(
        docs.select(
            F.col("doc_id").alias("fam"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit("zq "), F.col("txt")),
            )
            .otherwise(F.concat(F.col("txt"), F.lit(" zq")))
            .alias("txt"),
        )
    )
    lab = aug.select(
        "fam", F.md5(F.substring("txt", 1, 40)).alias("pred")
    )
    cont = (
        lab.groupBy("pred", "fam")
        .agg(F.count("*").cast("bigint").alias("npg"))
        .localCheckpoint(eager=False)
    )
    pc = (
        cont.groupBy("pred")
        .agg(F.sum("npg").cast("bigint").alias("np"))
        .localCheckpoint(eager=False)
    )
    gc = (
        cont.groupBy("fam")
        .agg(F.sum("npg").cast("bigint").alias("ng"))
        .localCheckpoint(eager=False)
    )
    return cont, pc, gc


@query(
    "a232_bcubed_cluster_eval",
    oracle=f"""
WITH lab AS ({_CLUSTER_EVAL_SQL}),
cont AS (
  SELECT pred, fam, CAST(COUNT(*) AS BIGINT) AS npg
  FROM lab GROUP BY pred, fam
), pc AS (
  SELECT pred, CAST(SUM(npg) AS BIGINT) AS np FROM cont GROUP BY pred
), gc AS (
  SELECT fam, CAST(SUM(npg) AS BIGINT) AS ng FROM cont GROUP BY fam
), terms AS (
  SELECT c.npg, p.np, g.ng,
         CAST(c.npg * c.npg * 1000000 // p.np AS BIGINT) AS bp_micro,
         CAST(c.npg * c.npg * 1000000 // g.ng AS BIGINT) AS br_micro,
         CAST(c.npg * (c.npg - 1) // 2 AS BIGINT) AS tp
  FROM cont c JOIN pc p USING (pred) JOIN gc g USING (fam)
), marg AS (
  SELECT (SELECT CAST(SUM(np * (np - 1) // 2) AS BIGINT) FROM pc) AS pp,
         (SELECT CAST(SUM(ng * (ng - 1) // 2) AS BIGINT) FROM gc) AS gp
), agg AS (
  SELECT CAST(SUM(npg) AS BIGINT) AS n,
         CAST(SUM(bp_micro) AS BIGINT) AS bp,
         CAST(SUM(br_micro) AS BIGINT) AS br,
         CAST(SUM(tp) AS BIGINT) AS tp
  FROM terms
)
SELECT a.n AS n_items,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pc) AS n_pred_clusters,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM gc) AS n_gold_families,
       ROUND(CAST(a.bp AS DOUBLE) / 1000000.0 / a.n, 6) AS bcubed_p_r,
       ROUND(CAST(a.br AS DOUBLE) / 1000000.0 / a.n, 6) AS bcubed_r_r,
       ROUND(CASE WHEN a.bp + a.br = 0 THEN 0.0
                  ELSE 2.0 * a.bp * a.br
                       / (CAST(a.bp AS DOUBLE) + a.br) / 1000000.0 / a.n
             END, 6) AS bcubed_f1_r,
       ROUND(CASE WHEN m.pp = 0 THEN 0.0
                  ELSE CAST(a.tp AS DOUBLE) / m.pp END, 6)
         AS pair_precision_r,
       ROUND(CASE WHEN m.gp = 0 THEN 0.0
                  ELSE CAST(a.tp AS DOUBLE) / m.gp END, 6)
         AS pair_recall_r,
       ROUND(CASE WHEN a.tp = 0 OR m.pp + m.gp = 0 THEN 0.0
                  ELSE 2.0 * a.tp / (CAST(m.pp AS DOUBLE) + m.gp)
             END, 6) AS pair_f1_r
FROM agg a CROSS JOIN marg m
""",
    tags=("dedup", "eval", "documents"),
)
def a232_bcubed_cluster_eval(spark, sf_dir):
    """B-cubed precision/recall/F1 plus pairwise P/R/F1 of a prefix
    blocking key against planted near-dup twin families — the standard
    EXTERNAL evaluation of a dedup clustering (a491's adjusted Rand is
    the chance-corrected cousin; B-cubed is the per-item view that
    rewards putting each item in a pure, complete cluster). B³P =
    (1/N) Σ_{p,g} n_pg²/n_p, B³R with n_g; pairwise TP/PP/GP are exact
    C(n,2) BIGINTs. Per-cell ratios are floored to micro units (same
    floor in both engines) so the cross-cell sum is an exact BIGINT;
    the contingency is one corpus groupBy and the marginals aggregate
    the contingency — nothing here re-reads the corpus, so the whole
    evaluation is two shuffles at any scale."""
    cont, pc, gc = _cluster_eval_contingency(spark, sf_dir)
    terms = (
        cont.join(pc, "pred")
        .join(gc, "fam")
        .select(
            "npg",
            F.expr(
                "CAST(npg * npg * 1000000 div np AS BIGINT)"
            ).alias("bp_micro"),
            F.expr(
                "CAST(npg * npg * 1000000 div ng AS BIGINT)"
            ).alias("br_micro"),
            F.expr("CAST(npg * (npg - 1) div 2 AS BIGINT)").alias("tp"),
        )
    )
    agg = terms.agg(
        F.sum("npg").cast("bigint").alias("n"),
        F.sum("bp_micro").cast("bigint").alias("bp"),
        F.sum("br_micro").cast("bigint").alias("br"),
        F.sum("tp").cast("bigint").alias("tp"),
    )
    marg = (
        pc.agg(
            F.expr("CAST(SUM(np * (np - 1) div 2) AS BIGINT)").alias("pp"),
            F.count("*").cast("bigint").alias("n_pred_clusters"),
        )
        .crossJoin(
            gc.agg(
                F.expr(
                    "CAST(SUM(ng * (ng - 1) div 2) AS BIGINT)"
                ).alias("gp"),
                F.count("*").cast("bigint").alias("n_gold_families"),
            )
        )
    )
    return agg.crossJoin(F.broadcast(marg)).select(
        F.col("n").alias("n_items"),
        "n_pred_clusters",
        "n_gold_families",
        F.round(F.col("bp").cast("double") / 1e6 / F.col("n"), 6).alias(
            "bcubed_p_r"
        ),
        F.round(F.col("br").cast("double") / 1e6 / F.col("n"), 6).alias(
            "bcubed_r_r"
        ),
        F.round(
            F.expr(
                "CASE WHEN bp + br = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE 2.0 * bp * br / (CAST(bp AS DOUBLE) + br)"
                " / 1000000.0 / n END"
            ),
            6,
        ).alias("bcubed_f1_r"),
        F.round(
            F.expr(
                "CASE WHEN pp = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE CAST(tp AS DOUBLE) / pp END"
            ),
            6,
        ).alias("pair_precision_r"),
        F.round(
            F.expr(
                "CASE WHEN gp = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE CAST(tp AS DOUBLE) / gp END"
            ),
            6,
        ).alias("pair_recall_r"),
        F.round(
            F.expr(
                "CASE WHEN tp = 0 OR pp + gp = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE 2.0 * tp / (CAST(pp AS DOUBLE) + gp) END"
            ),
            6,
        ).alias("pair_f1_r"),
    )


@query(
    "a233_v_measure_cluster_eval",
    oracle=f"""
WITH lab AS ({_CLUSTER_EVAL_SQL}),
cont AS (
  SELECT pred, fam, CAST(COUNT(*) AS BIGINT) AS npg
  FROM lab GROUP BY pred, fam
), pc AS (
  SELECT pred, CAST(SUM(npg) AS BIGINT) AS np FROM cont GROUP BY pred
), gc AS (
  SELECT fam, CAST(SUM(npg) AS BIGINT) AS ng FROM cont GROUP BY fam
), tot AS (SELECT CAST(SUM(npg) AS BIGINT) AS n FROM cont),
cond AS (
  SELECT CAST(SUM(CAST(ROUND(c.npg * LN(CAST(p.np AS DOUBLE) / c.npg)
                             * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS hck_micro,
         CAST(SUM(CAST(ROUND(c.npg * LN(CAST(g.ng AS DOUBLE) / c.npg)
                             * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS hkc_micro
  FROM cont c JOIN pc p USING (pred) JOIN gc g USING (fam)
), hmarg AS (
  SELECT (SELECT CAST(SUM(CAST(ROUND(ng * LN(CAST(t.n AS DOUBLE) / ng)
                                     * 1000000.0, 0) AS BIGINT)) AS BIGINT)
          FROM gc CROSS JOIN tot t) AS hc_micro,
         (SELECT CAST(SUM(CAST(ROUND(np * LN(CAST(t.n AS DOUBLE) / np)
                                     * 1000000.0, 0) AS BIGINT)) AS BIGINT)
          FROM pc CROSS JOIN tot t) AS hk_micro
)
SELECT t.n AS n_items,
       ROUND(CAST(c.hck_micro AS DOUBLE) / 1000000.0 / t.n, 6)
         AS h_c_given_k_r,
       ROUND(CAST(m.hc_micro AS DOUBLE) / 1000000.0 / t.n, 6) AS h_c_r,
       ROUND(CASE WHEN m.hc_micro = 0 THEN 1.0
                  ELSE 1.0 - CAST(c.hck_micro AS DOUBLE) / m.hc_micro
             END, 6) AS homogeneity_r,
       ROUND(CASE WHEN m.hk_micro = 0 THEN 1.0
                  ELSE 1.0 - CAST(c.hkc_micro AS DOUBLE) / m.hk_micro
             END, 6) AS completeness_r,
       ROUND(CASE WHEN (CASE WHEN m.hc_micro = 0 THEN 1.0
                             ELSE 1.0 - CAST(c.hck_micro AS DOUBLE)
                                  / m.hc_micro END)
                     + (CASE WHEN m.hk_micro = 0 THEN 1.0
                             ELSE 1.0 - CAST(c.hkc_micro AS DOUBLE)
                                  / m.hk_micro END) = 0 THEN 0.0
                  ELSE 2.0
                       * (CASE WHEN m.hc_micro = 0 THEN 1.0
                               ELSE 1.0 - CAST(c.hck_micro AS DOUBLE)
                                    / m.hc_micro END)
                       * (CASE WHEN m.hk_micro = 0 THEN 1.0
                               ELSE 1.0 - CAST(c.hkc_micro AS DOUBLE)
                                    / m.hk_micro END)
                       / ((CASE WHEN m.hc_micro = 0 THEN 1.0
                                ELSE 1.0 - CAST(c.hck_micro AS DOUBLE)
                                     / m.hc_micro END)
                          + (CASE WHEN m.hk_micro = 0 THEN 1.0
                                  ELSE 1.0 - CAST(c.hkc_micro AS DOUBLE)
                                       / m.hk_micro END))
             END, 6) AS v_measure_r
FROM cond c CROSS JOIN hmarg m CROSS JOIN tot t
""",
    tags=("dedup", "eval", "documents"),
)
def a233_v_measure_cluster_eval(spark, sf_dir):
    """Homogeneity / completeness / V-measure of the same prefix-block
    clustering a232 evaluates — the entropy view of external cluster
    quality: h = 1 - H(gold|pred)/H(gold) (each block holds one
    family), c = 1 - H(pred|gold)/H(pred) (each family stays in one
    block), V = their harmonic mean. Every entropy term is
    n_pg·ln(marginal/n_pg) on exact BIGINT counts, fixed-pointed to
    micro units per contingency cell before the exact cross-cell sum
    (the LN runs once per cell, identical inputs in both engines).
    Shares a232's two-shuffle contingency plan."""
    cont, pc, gc = _cluster_eval_contingency(spark, sf_dir)
    cond = (
        cont.join(pc, "pred")
        .join(gc, "fam")
        .agg(
            F.sum("npg").cast("bigint").alias("n"),
            F.sum(
                F.expr(
                    "CAST(ROUND(npg * LN(CAST(np AS DOUBLE) / npg)"
                    " * 1000000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("hck_micro"),
            F.sum(
                F.expr(
                    "CAST(ROUND(npg * LN(CAST(ng AS DOUBLE) / npg)"
                    " * 1000000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("hkc_micro"),
        )
        .localCheckpoint(eager=False)
    )
    # marginal entropies need n; compute them against the 1-row total
    tot = cond.select(F.col("n").alias("n_tot"))
    hc_m = (
        gc.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND(ng * LN(CAST(n_tot AS DOUBLE) / ng)"
                    " * 1000000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("hc_micro")
        )
    )
    hk_m = (
        pc.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND(np * LN(CAST(n_tot AS DOUBLE) / np)"
                    " * 1000000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("hk_micro")
        )
    )
    out = cond.crossJoin(F.broadcast(hc_m)).crossJoin(F.broadcast(hk_m))
    h_expr = (
        "CASE WHEN hc_micro = 0 THEN 1.0"
        " ELSE 1.0 - CAST(hck_micro AS DOUBLE) / hc_micro END"
    )
    c_expr = (
        "CASE WHEN hk_micro = 0 THEN 1.0"
        " ELSE 1.0 - CAST(hkc_micro AS DOUBLE) / hk_micro END"
    )
    return out.select(
        F.col("n").alias("n_items"),
        F.round(F.col("hck_micro").cast("double") / 1e6 / F.col("n"), 6)
        .alias("h_c_given_k_r"),
        F.round(F.col("hc_micro").cast("double") / 1e6 / F.col("n"), 6)
        .alias("h_c_r"),
        F.round(F.expr(h_expr), 6).alias("homogeneity_r"),
        F.round(F.expr(c_expr), 6).alias("completeness_r"),
        F.round(
            F.expr(
                f"CASE WHEN ({h_expr}) + ({c_expr}) = 0"
                " THEN CAST(0 AS DOUBLE)"
                f" ELSE 2.0 * ({h_expr}) * ({c_expr})"
                f" / (({h_expr}) + ({c_expr})) END"
            ),
            6,
        ).alias("v_measure_r"),
    )


@query(
    "a234_spiegelhalter_z",
    oracle="""
WITH subj AS (
  SELECT f.user_id,
         LEAST(CAST(10 AS BIGINT), f.recency) AS bin,
         CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM (
    SELECT user_id,
           CAST(DATE '2024-01-20' - CAST(MAX(ts) AS DATE) AS BIGINT)
             AS recency
    FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
    GROUP BY user_id
  ) f
  LEFT JOIN (
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) > DATE '2024-01-20'
      AND CAST(ts AS DATE) <= DATE '2024-01-30'
      AND event_type = 'purchase'
  ) h ON h.user_id = f.user_id
), bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(SUM(churned) AS BIGINT) AS ok
  FROM subj GROUP BY bin
), agg AS (
  SELECT CAST(SUM(nk) AS BIGINT) AS n,
         CAST(SUM((ok * 10 - nk * bin) * (10 - 2 * bin)) AS BIGINT)
           AS num_i,
         CAST(SUM(nk * (10 - 2 * bin) * (10 - 2 * bin)
                  * bin * (10 - bin)) AS BIGINT) AS den_i
  FROM bins
)
SELECT n AS n_users,
       num_i AS z_num_centi,
       den_i AS z_den_e4,
       ROUND(CASE WHEN den_i = 0 THEN 0.0
                  ELSE num_i / SQRT(CAST(den_i AS DOUBLE)) END, 6)
         AS z_r,
       CASE WHEN den_i > 0
             AND ABS(num_i / SQRT(CAST(den_i AS DOUBLE))) > 1.959964
            THEN 1 ELSE 0 END AS miscalibrated_flag
FROM agg
""",
    tags=("analytics", "eval", "calibration"),
)
def a234_spiegelhalter_z(spark, sf_dir):
    """Spiegelhalter's Z test of forecast calibration for q285's
    recency-decile churn score: Z = Σ(y−p)(1−2p) / sqrt(Σ(1−2p)²p(1−p)).
    Unlike a487's binned ECE (a magnitude) this is a significance TEST —
    under perfect calibration Z ~ N(0,1), so |Z| > 1.96 rejects at 5%.
    With p = bin/10 both sums are EXACT BIGINTs after clearing
    denominators: numerator·100 = Σ(10·ok − nk·bin)(10−2·bin),
    denominator·10⁴ = Σ nk(10−2·bin)²·bin(10−bin), and the 100/√10⁴
    factors cancel so z = num_i/√den_i with one terminal sqrt. One
    corpus groupBy to per-user recency, one 11-row aggregate."""
    bins = (
        churn_panel(table(spark, sf_dir, "events"))
        .select(recency_score().alias("bin"), "churned")
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("nk"),
            F.sum("churned").cast("bigint").alias("ok"),
        )
    )
    agg = bins.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum(F.expr("(ok * 10 - nk * bin) * (10 - 2 * bin)"))
        .cast("bigint")
        .alias("num_i"),
        F.sum(
            F.expr("nk * (10 - 2 * bin) * (10 - 2 * bin) * bin * (10 - bin)")
        )
        .cast("bigint")
        .alias("den_i"),
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("num_i").alias("z_num_centi"),
        F.col("den_i").alias("z_den_e4"),
        F.round(
            F.expr(
                "CASE WHEN den_i = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE num_i / SQRT(CAST(den_i AS DOUBLE)) END"
            ),
            6,
        ).alias("z_r"),
        F.expr(
            "CASE WHEN den_i > 0"
            " AND ABS(num_i / SQRT(CAST(den_i AS DOUBLE))) > 1.959964"
            " THEN 1 ELSE 0 END"
        ).alias("miscalibrated_flag"),
    )


@query(
    "a235_lomb_scargle",
    oracle=f"""
WITH {_DAILYVK_SQL},
scal AS (
  SELECT MIN(d) AS d0, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yk) AS BIGINT) AS s,
         CAST(SUM(yk * yk) AS BIGINT) AS s2
  FROM daily
), pan AS (
  SELECT CAST(dd.d - sc.d0 AS BIGINT) AS t,
         CAST(sc.n * dd.yk - sc.s AS BIGINT) AS yc,
         sc.n, sc.s, sc.s2
  FROM daily dd CROSS JOIN scal sc
), grid AS (SELECT UNNEST([7, 30, 91, 365]) AS p),
st1 AS (
  SELECT g.p,
         CAST(SUM(CAST(ROUND(SIN(2 * (2 * PI() / g.p) * pan.t)
                             * 1000000000.0, 0) AS BIGINT)) AS BIGINT)
           AS s2_fp,
         CAST(SUM(CAST(ROUND(COS(2 * (2 * PI() / g.p) * pan.t)
                             * 1000000000.0, 0) AS BIGINT)) AS BIGINT)
           AS c2_fp
  FROM pan CROSS JOIN grid g GROUP BY g.p
), tau AS (
  SELECT p,
         ATAN2(s2_fp / 1000000000.0, c2_fp / 1000000000.0)
           / (2 * (2 * PI() / p)) AS tau
  FROM st1
), st2 AS (
  SELECT t.p,
         CAST(MIN(pan.n) AS BIGINT) AS n,
         CAST(MIN(pan.s2) AS BIGINT) AS sy2,
         CAST(MIN(pan.s) AS BIGINT) AS sy,
         CAST(SUM(CAST(ROUND(pan.yc
                * COS((2 * PI() / t.p) * (pan.t - t.tau))
                * 1000.0, 0) AS BIGINT)) AS BIGINT) AS a_fp,
         CAST(SUM(CAST(ROUND(pan.yc
                * SIN((2 * PI() / t.p) * (pan.t - t.tau))
                * 1000.0, 0) AS BIGINT)) AS BIGINT) AS b_fp,
         CAST(SUM(CAST(ROUND(COS((2 * PI() / t.p) * (pan.t - t.tau))
                * COS((2 * PI() / t.p) * (pan.t - t.tau))
                * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS cc_fp,
         CAST(SUM(CAST(ROUND(SIN((2 * PI() / t.p) * (pan.t - t.tau))
                * SIN((2 * PI() / t.p) * (pan.t - t.tau))
                * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS ss_fp
  FROM pan CROSS JOIN tau t GROUP BY t.p
)
SELECT p AS period_days, n AS n_days,
       ROUND(CASE WHEN cc_fp = 0 OR ss_fp = 0
                    OR n * sy2 - sy * sy = 0 THEN 0.0
                  ELSE 0.5 * (
                    (a_fp / 1000.0 / n) * (a_fp / 1000.0 / n)
                      / (cc_fp / 1000000000.0)
                    + (b_fp / 1000.0 / n) * (b_fp / 1000.0 / n)
                      / (ss_fp / 1000000000.0))
                    / ((CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * n))
             END, 6) AS power_norm_r
FROM st2 ORDER BY p
""",
    tags=("temporal", "spectral"),
)
def a235_lomb_scargle(spark, sf_dir):
    """Lomb-Scargle normalized periodogram of daily revenue at candidate
    periods 7/30/91/365 days — the spectral estimator for UNEVENLY
    sampled series (the order calendar has gaps, so a484's Goertzel DFT
    over the row index mis-bins frequencies; Lomb-Scargle evaluates sin/
    cos at the true day offsets and is invariant to the gaps). Two
    bounded-panel trig passes: pass 1 accumulates Σsin(2ωt), Σcos(2ωt)
    for the per-frequency phase shift τ = atan2(Σs,Σc)/2ω; pass 2
    accumulates the τ-centered projections. Every trig term is
    evaluated once per (day, period) on exact integer day offsets and
    fixed-pointed (nano for unit-bounded terms, milli for the
    yc-weighted terms whose centered weights n·yk−S are exact BIGINTs)
    before exact sums, so both engines add identical integers. The day
    panel is calendar-bounded (≤2404 rows at ANY corpus scale), so the
    trig stage is scale-constant; only the one groupBy building the
    panel sees the corpus."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), money_units("o_totalprice", 100).alias("y")
    ).localCheckpoint(eager=False)
    daily = unit_scaled(daily, "y", 3000, "yk")
    scal = daily.agg(
        F.min("d").alias("d0"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("yk").cast("bigint").alias("s"),
        F.sum(F.expr("yk * yk")).cast("bigint").alias("s2"),
    )
    pan = daily.crossJoin(F.broadcast(scal)).select(
        F.datediff("d", "d0").cast("bigint").alias("t"),
        F.expr("CAST(n * yk - s AS BIGINT)").alias("yc"),
        "n",
        "s",
        "s2",
    )
    grid = spark.sql("SELECT explode(array(7, 30, 91, 365)) AS p")
    per = pan.crossJoin(F.broadcast(grid))
    st1 = per.groupBy("p").agg(
        F.sum(
            F.expr(
                "CAST(ROUND(SIN(2 * (2 * PI() / p) * t)"
                " * 1000000000.0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("s2_fp"),
        F.sum(
            F.expr(
                "CAST(ROUND(COS(2 * (2 * PI() / p) * t)"
                " * 1000000000.0, 0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("c2_fp"),
    )
    tau = st1.select(
        "p",
        F.expr(
            "ATAN2(s2_fp / 1000000000.0, c2_fp / 1000000000.0)"
            " / (2 * (2 * PI() / p))"
        ).alias("tau"),
    )
    st2 = (
        pan.crossJoin(F.broadcast(tau))
        .groupBy("p")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.min("s2").cast("bigint").alias("sy2"),
            F.min("s").cast("bigint").alias("sy"),
            F.sum(
                F.expr(
                    "CAST(ROUND(yc * COS((2 * PI() / p) * (t - tau))"
                    " * 1000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("a_fp"),
            F.sum(
                F.expr(
                    "CAST(ROUND(yc * SIN((2 * PI() / p) * (t - tau))"
                    " * 1000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("b_fp"),
            F.sum(
                F.expr(
                    "CAST(ROUND(COS((2 * PI() / p) * (t - tau))"
                    " * COS((2 * PI() / p) * (t - tau))"
                    " * 1000000000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("cc_fp"),
            F.sum(
                F.expr(
                    "CAST(ROUND(SIN((2 * PI() / p) * (t - tau))"
                    " * SIN((2 * PI() / p) * (t - tau))"
                    " * 1000000000.0, 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("ss_fp"),
        )
    )
    return st2.select(
        F.col("p").alias("period_days"),
        F.col("n").alias("n_days"),
        F.round(
            F.expr(
                "CASE WHEN cc_fp = 0 OR ss_fp = 0"
                " OR n * sy2 - sy * sy = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE 0.5 * ("
                " (a_fp / 1000.0 / n) * (a_fp / 1000.0 / n)"
                "   / (cc_fp / 1000000000.0)"
                " + (b_fp / 1000.0 / n) * (b_fp / 1000.0 / n)"
                "   / (ss_fp / 1000000000.0))"
                " / ((CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)"
                "    / (CAST(n AS DOUBLE) * n)) END"
            ),
            6,
        ).alias("power_norm_r"),
    ).orderBy("period_days")


@query(
    "a236_adstock_transform",
    oracle=f"""
WITH {_DAILYVK_SQL},
pan AS (
  SELECT yk, v, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i
  FROM daily
), ad AS (
  SELECT a.i, CAST(MIN(a.yk) AS BIGINT) AS yk,
         CAST(MIN(a.v) AS BIGINT) AS v,
         CAST(SUM((CASE a.i - b.i
                   WHEN 0 THEN 10000000 WHEN 1 THEN 7000000
                   WHEN 2 THEN 4900000 WHEN 3 THEN 3430000
                   WHEN 4 THEN 2401000 WHEN 5 THEN 1680700
                   WHEN 6 THEN 1176490 ELSE 823543 END) * b.v)
              AS BIGINT) AS ade7
  FROM pan a JOIN pan b ON a.i - b.i BETWEEN 0 AND 7
  WHERE a.i >= 8 GROUP BY a.i
), un AS (
  SELECT GREATEST(CAST(1 AS BIGINT), CAST(MAX(ade7) AS BIGINT) // 30000)
           AS ua,
         GREATEST(CAST(1 AS BIGINT), CAST(MAX(v) AS BIGINT) // 30000)
           AS uv
  FROM ad
), sc AS (
  SELECT CAST(ade7 // ua AS BIGINT) AS x,
         CAST(v // uv AS BIGINT) AS w, yk
  FROM ad CROSS JOIN un
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(yk) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(w * w) AS BIGINT) AS sww,
         CAST(SUM(yk * yk) AS BIGINT) AS syy,
         CAST(SUM(x * yk) AS BIGINT) AS sxy,
         CAST(SUM(w * yk) AS BIGINT) AS swy
  FROM sc
)
SELECT n AS n_days,
       ROUND(CASE WHEN n * sww - sw * sw <= 0 OR n * syy - sy * sy <= 0
                  THEN 0.0
                  ELSE (CAST(n AS DOUBLE) * swy - CAST(sw AS DOUBLE) * sy)
                       / SQRT(CAST(n AS DOUBLE) * sww
                              - CAST(sw AS DOUBLE) * sw)
                       / SQRT(CAST(n AS DOUBLE) * syy
                              - CAST(sy AS DOUBLE) * sy)
             END, 6) AS corr_raw_r,
       ROUND(CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
                  THEN 0.0
                  ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / SQRT(CAST(n AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx)
                       / SQRT(CAST(n AS DOUBLE) * syy
                              - CAST(sy AS DOUBLE) * sy)
             END, 6) AS corr_adstock_r
FROM mom
""",
    tags=("temporal", "marketing"),
)
def a236_adstock_transform(spark, sf_dir):
    """Geometric adstock transform (θ=0.7, 8-tap carryover) of daily
    order volume, and its Pearson correlation with daily revenue vs the
    un-transformed volume — the standard marketing-mix preprocessing
    step that spreads an activity spike over subsequent days. The
    decay weights are EXACT integers with denominators cleared:
    adstock·10⁷ = Σ_{{l=0..7}} 7^l·10^(7−l)·v_{{t−l}}, so the transform
    is pure BIGINT arithmetic (no float power). The 8-tap window is an
    index-adjacency self-join on the calendar-bounded day panel (≤2404
    rows at ANY scale); both adstock and raw volume are unit-rescaled
    by exact data-dependent divisors (the a038-class discipline) so the
    correlation moments keep int64 headroom at every corpus scale."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"),
        F.count("*").cast("bigint").alias("v"),
        money_units("o_totalprice", 100).alias("y"),
    ).localCheckpoint(eager=False)
    daily = unit_scaled(daily, "y", 3000, "yk")
    pan = daily.select(
        "yk",
        "v",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i"),
    ).localCheckpoint(eager=False)
    a = pan.alias("a")
    b = pan.alias("b")
    w_case = (
        "CASE a.i - b.i"
        " WHEN 0 THEN 10000000 WHEN 1 THEN 7000000"
        " WHEN 2 THEN 4900000 WHEN 3 THEN 3430000"
        " WHEN 4 THEN 2401000 WHEN 5 THEN 1680700"
        " WHEN 6 THEN 1176490 ELSE 823543 END"
    )
    ad = (
        a.join(
            b,
            (F.col("a.i") - F.col("b.i") >= 0)
            & (F.col("a.i") - F.col("b.i") <= 7),
        )
        .filter(F.col("a.i") >= 8)
        .groupBy(F.col("a.i").alias("i"))
        .agg(
            F.min("a.yk").cast("bigint").alias("yk"),
            F.min("a.v").cast("bigint").alias("v"),
            F.sum(F.expr(f"({w_case}) * b.v")).cast("bigint").alias("ade7"),
        )
        .localCheckpoint(eager=False)
    )
    un = ad.agg(
        F.expr(
            "GREATEST(CAST(1 AS BIGINT),"
            " CAST(MAX(ade7) AS BIGINT) div 30000)"
        ).alias("ua"),
        F.expr(
            "GREATEST(CAST(1 AS BIGINT), CAST(MAX(v) AS BIGINT) div 30000)"
        ).alias("uv"),
    )
    sc = ad.crossJoin(F.broadcast(un)).select(
        F.expr("CAST(ade7 div ua AS BIGINT)").alias("x"),
        F.expr("CAST(v div uv AS BIGINT)").alias("w"),
        "yk",
    )
    mom = sc.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum("yk").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("w * w")).cast("bigint").alias("sww"),
        F.sum(F.expr("yk * yk")).cast("bigint").alias("syy"),
        F.sum(F.expr("x * yk")).cast("bigint").alias("sxy"),
        F.sum(F.expr("w * yk")).cast("bigint").alias("swy"),
    )
    corr = (
        "CASE WHEN n * s{a}{a} - s{a} * s{a} <= 0"
        " OR n * syy - sy * sy <= 0"
        " THEN CAST(0 AS DOUBLE)"
        " ELSE (CAST(n AS DOUBLE) * s{a}y - CAST(s{a} AS DOUBLE) * sy)"
        " / SQRT(CAST(n AS DOUBLE) * s{a}{a}"
        "        - CAST(s{a} AS DOUBLE) * s{a})"
        " / SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) END"
    )
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(F.expr(corr.format(a="w")), 6).alias("corr_raw_r"),
        F.round(F.expr(corr.format(a="x")), 6).alias("corr_adstock_r"),
    )


@query(
    "a237_siegel_tukey",
    oracle="""
WITH pool AS (
  SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
         o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ga
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), ranked AS (
  SELECT ga,
         CAST(ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS BIGINT)
           AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM pool
), st AS (
  SELECT ga, n,
         CASE WHEN i * 2 = n + 1 THEN n
              WHEN i * 2 < n + 1
              THEN 2 * i - (i % 2)
              ELSE 2 * (n + 1 - i) - (1 - (n + 1 - i) % 2)
         END AS w
  FROM ranked
), agg AS (
  SELECT CAST(MIN(n) AS BIGINT) AS n,
         CAST(SUM(ga) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN ga = 1 THEN w ELSE 0 END) AS BIGINT) AS wa
  FROM st
)
SELECT n AS n_total, na AS n_urgent, wa AS w_stat,
       ROUND((wa - CAST(na AS DOUBLE) * (n + 1) / 2.0)
             / SQRT(CAST(na AS DOUBLE) * (n - na) * (n + 1) / 12.0), 6)
         AS z_r,
       CASE WHEN (wa - CAST(na AS DOUBLE) * (n + 1) / 2.0)
                 / SQRT(CAST(na AS DOUBLE) * (n - na) * (n + 1) / 12.0)
                 < 0
            THEN 1 ELSE 0 END AS urgent_more_dispersed_flag
FROM agg
""",
    tags=("inference", "nonparametric"),
)
def a237_siegel_tukey(spark, sf_dir):
    """Siegel-Tukey rank test of dispersion equality between URGENT and
    LOW order prices: ranks are dealt alternately from the two extremes
    of the pooled sorted sample (1 to the min; 2,3 to the two maxima;
    4,5 to the next minima; ...), so LOW ranks concentrate in the
    less-dispersed group, then a Wilcoxon rank-sum runs on those ranks.
    The extreme-alternating weight is a closed form of the ascending
    position i: low half (2i - i%2), high half with depth k = n+1-i
    (2k - (1 - k%2)), and for odd n the middle element takes the last
    rank n — pure BIGINT arithmetic, so W is exact; ties are
    broken deterministically by (cents, orderkey), the house order-
    statistic discipline (classical mid-rank tie handling would need
    rational averages; the deterministic break is documented and
    identical in both engines). Against a443/a521: Ansari-Bradley
    weights by min(i, n+1-i); Siegel-Tukey is its integer-rank twin
    that needs no rational scores. One corpus filter + one global sort
    (the operator IS an order statistic), one aggregate."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    pool = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)").alias(
            "cents"
        ),
        "o_orderkey",
        F.expr(
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END"
        ).alias("ga"),
    )
    ranked = pool.select(
        "ga",
        F.row_number()
        .over(Window.orderBy("cents", "o_orderkey"))
        .cast("bigint")
        .alias("i"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    st = ranked.select(
        "ga",
        "n",
        F.expr(
            "CASE WHEN i * 2 = n + 1 THEN n"
            " WHEN i * 2 < n + 1"
            " THEN 2 * i - (i % 2)"
            " ELSE 2 * (n + 1 - i) - (1 - (n + 1 - i) % 2) END"
        ).alias("w"),
    )
    agg = st.agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum("ga").cast("bigint").alias("na"),
        F.sum(F.expr("CASE WHEN ga = 1 THEN w ELSE 0 END"))
        .cast("bigint")
        .alias("wa"),
    )
    z = (
        "(wa - CAST(na AS DOUBLE) * (n + 1) / 2.0)"
        " / SQRT(CAST(na AS DOUBLE) * (n - na) * (n + 1) / 12.0)"
    )
    return agg.select(
        F.col("n").alias("n_total"),
        F.col("na").alias("n_urgent"),
        F.col("wa").alias("w_stat"),
        F.round(F.expr(z), 6).alias("z_r"),
        F.expr(f"CASE WHEN {z} < 0 THEN 1 ELSE 0 END").alias(
            "urgent_more_dispersed_flag"
        ),
    )


@query(
    "a238_loglogistic_aft",
    oracle="""
WITH dur AS (
  SELECT CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) + 1 AS t
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
), sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dur),
ranked AS (
  SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn
  FROM dur
), grid AS (SELECT UNNEST([0, 1, 2, 3, 4, 5, 6, 7, 8, 9]) AS j),
qpts AS (
  SELECT g.j, r.t,
         CAST(ROUND(LN(CAST(r.t AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
           AS lx,
         CAST(ROUND(LN(CAST(2 * g.j + 1 AS DOUBLE) / (19 - 2 * g.j))
                    * 1000000.0, 0) AS BIGINT) AS ly
  FROM ranked r JOIN grid g CROSS JOIN sc
    ON r.rn = (2 * g.j + 1) * (sc.n - 1) // 20 + 1
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
         CAST(SUM(lx * lx) AS BIGINT) AS sxx,
         CAST(SUM(lx * ly) AS BIGINT) AS sxy,
         CAST(SUM(ly * ly) AS BIGINT) AS syy
  FROM qpts
)
SELECT (SELECT n FROM sc) AS n_durations, m AS n_quantile_points,
       ROUND(CASE WHEN m * sxx - sx * sx = 0 THEN 0.0
                  ELSE (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             END, 6) AS shape_r,
       ROUND(CASE WHEN m * sxx - sx * sx = 0 OR m * sxy - sx * sy = 0
                  THEN 0.0
                  ELSE EXP(-((CAST(sy AS DOUBLE)
                              - ((CAST(m AS DOUBLE) * sxy
                                  - CAST(sx AS DOUBLE) * sy)
                                 / (CAST(m AS DOUBLE) * sxx
                                    - CAST(sx AS DOUBLE) * sx)) * sx)
                             / m / 1000000.0)
                           / ((CAST(m AS DOUBLE) * sxy
                               - CAST(sx AS DOUBLE) * sy)
                              / (CAST(m AS DOUBLE) * sxx
                                 - CAST(sx AS DOUBLE) * sx)))
             END, 6) AS scale_days_r,
       ROUND(CASE WHEN m * sxx - sx * sx <= 0 OR m * syy - sy * sy <= 0
                  THEN 0.0
                  ELSE (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       * (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                       / (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
             END, 6) AS r2_r
FROM fit
""",
    tags=("inference", "survival"),
)
def a238_loglogistic_aft(spark, sf_dir):
    """Log-logistic AFT fit of order-to-ship durations by quantile
    regression on the logit scale: if T ~ LogLogistic(α, β) then
    logit F(t) = β(ln t − ln α), so regressing ln(q/(1−q)) on ln t_q at
    the empirical q ∈ {0.05, 0.15, …, 0.95} deciles recovers shape β
    (slope) and scale α = exp(−b₀/β) days, with R² grading the fit
    (a083 does the same construction on a Weibull via ln(−ln(1−q));
    the log-logistic has heavier tails and a closed logit link).
    Negative fixture deltas (ship before order — synthetic-data
    artifacts) are excluded so ln t is defined. The
    quantile positions (2j+1)(n−1)//20 + 1 are exact integers; each
    LN runs once per decile point and is fixed-pointed to micro units,
    so the 10-point OLS moments are exact BIGINTs. One big co-
    partitioned join + one global sort (the order-statistic pass), then
    a 10-row fit."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    dur = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.expr("CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)"))
        .select(
            (
                F.datediff("l_shipdate", "o_orderdate").cast("bigint") + 1
            ).alias("t")
        )
    )
    sc = dur.agg(F.count("*").cast("bigint").alias("n"))
    ranked = dur.select(
        "t",
        F.row_number().over(Window.orderBy("t")).cast("bigint").alias("rn"),
    )
    grid = spark.sql(
        "SELECT explode(array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9)) AS j"
    ).crossJoin(F.broadcast(sc))
    qpts = ranked.join(
        F.broadcast(grid),
        F.col("rn")
        == F.expr("(2 * j + 1) * (n - 1) div 20 + 1").cast("bigint"),
    ).select(
        "n",
        F.expr(
            "CAST(ROUND(LN(CAST(t AS DOUBLE)) * 1000000.0, 0) AS BIGINT)"
        ).alias("lx"),
        F.expr(
            "CAST(ROUND(LN(CAST(2 * j + 1 AS DOUBLE) / (19 - 2 * j))"
            " * 1000000.0, 0) AS BIGINT)"
        ).alias("ly"),
    )
    fit = qpts.agg(
        F.min("n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("m"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.expr("lx * lx")).cast("bigint").alias("sxx"),
        F.sum(F.expr("lx * ly")).cast("bigint").alias("sxy"),
        F.sum(F.expr("ly * ly")).cast("bigint").alias("syy"),
    )
    b1 = (
        "((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    )
    return fit.select(
        F.col("n").alias("n_durations"),
        F.col("m").alias("n_quantile_points"),
        F.round(
            F.expr(
                "CASE WHEN m * sxx - sx * sx = 0 THEN CAST(0 AS DOUBLE)"
                f" ELSE {b1} END"
            ),
            6,
        ).alias("shape_r"),
        F.round(
            F.expr(
                "CASE WHEN m * sxx - sx * sx = 0 OR m * sxy - sx * sy = 0"
                " THEN CAST(0 AS DOUBLE)"
                f" ELSE EXP(-((CAST(sy AS DOUBLE) - {b1} * sx)"
                f" / m / 1000000.0) / {b1}) END"
            ),
            6,
        ).alias("scale_days_r"),
        F.round(
            F.expr(
                "CASE WHEN m * sxx - sx * sx <= 0 OR m * syy - sy * sy <= 0"
                " THEN CAST(0 AS DOUBLE)"
                " ELSE (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " * (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " / (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
                " / (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
                " END"
            ),
            6,
        ).alias("r2_r"),
    )


@query(
    "a239_turning_points_test",
    oracle=f"""
WITH daily AS ({_DAILYV_SQL}),
seq AS (
  SELECT v,
         LAG(v) OVER (ORDER BY d) AS pv,
         LEAD(v) OVER (ORDER BY d) AS nv
  FROM daily
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL
                        AND ((v > pv AND v > nv) OR (v < pv AND v < nv))
                       THEN 1 ELSE 0 END) AS BIGINT) AS t_pts
  FROM seq
)
SELECT n AS n_days, t_pts AS turning_points,
       ROUND(2.0 * (n - 2) / 3.0, 6) AS expected_r,
       ROUND((t_pts - 2.0 * (n - 2) / 3.0)
             / SQRT((16.0 * n - 29.0) / 90.0), 6) AS z_r,
       CASE WHEN ABS((t_pts - 2.0 * (n - 2) / 3.0)
                     / SQRT((16.0 * n - 29.0) / 90.0)) > 1.959964
            THEN 1 ELSE 0 END AS nonrandom_flag
FROM agg
""",
    tags=("temporal", "randomness"),
)
def a239_turning_points_test(spark, sf_dir):
    """Turning-points test of serial randomness on daily order volume:
    an interior day is a turning point iff it is a strict local max or
    min of the day-ordered sequence; under i.i.d. data E[T] = 2(n−2)/3
    and Var[T] = (16n−29)/90, so z = (T−E)/√Var flags trend/seasonal
    structure (too few turns) or alternation (too many). Complements
    a571's runs test (sign-of-median view) and a529's rank von Neumann
    (magnitude view) with the local-extremum view; flat ties count as
    non-turns, deterministically in both engines. One bounded-panel
    window pass; the count and n are exact BIGINTs with one terminal
    sqrt."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("v")
    ).localCheckpoint(eager=False)
    w = Window.orderBy("d")
    seq = daily.select(
        "v",
        F.lag("v").over(w).alias("pv"),
        F.lead("v").over(w).alias("nv"),
    )
    agg = seq.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.expr(
                "CASE WHEN pv IS NOT NULL AND nv IS NOT NULL"
                " AND ((v > pv AND v > nv) OR (v < pv AND v < nv))"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("t_pts"),
    )
    z = (
        "(t_pts - 2.0 * (n - 2) / 3.0)"
        " / SQRT((16.0 * n - 29.0) / 90.0)"
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("t_pts").alias("turning_points"),
        F.round(
            F.expr("CAST(2.0 AS DOUBLE) * (n - 2) / CAST(3.0 AS DOUBLE)"), 6
        ).alias("expected_r"),
        F.round(F.expr(z), 6).alias("z_r"),
        F.expr(
            f"CASE WHEN ABS({z}) > 1.959964 THEN 1 ELSE 0 END"
        ).alias("nonrandom_flag"),
    )


@query(
    "a240_cusum_squares_break",
    oracle=f"""
WITH {_DAILYVK_SQL},
seq AS (
  SELECT d, CAST(yk * yk AS BIGINT) AS sq,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k
  FROM daily
), cum AS (
  SELECT d, k,
         CAST(SUM(sq) OVER (ORDER BY k) AS BIGINT) AS sk,
         CAST(SUM(sq) OVER () AS BIGINT) AS sn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM seq
), dev AS (
  SELECT d, k, n, sn,
         CAST(ABS(sk * n - k * sn) AS BIGINT) AS num
  FROM cum
), best AS (
  SELECT d, k, n, sn, num,
         ROW_NUMBER() OVER (ORDER BY num DESC, k) AS rn
  FROM dev
)
SELECT n AS n_days, k AS k_at_max, d AS break_date,
       ROUND(CAST(num AS DOUBLE) / n / sn, 6) AS dmax_r,
       ROUND(CAST(num AS DOUBLE) / n / sn * SQRT(n / 2.0), 6) AS stat_r,
       CASE WHEN CAST(num AS DOUBLE) / n / sn * SQRT(n / 2.0) > 1.36
            THEN 1 ELSE 0 END AS break_flag
FROM best WHERE rn = 1
""",
    tags=("temporal", "changepoint"),
)
def a240_cusum_squares_break(spark, sf_dir):
    """CUSUM-of-squares variance-break scan on daily revenue: D_k =
    S_k/S_n − k/n for cumulative squared (unit-scaled) revenue S_k;
    max_k |D_k| marks the most likely variance regime change, and
    |D|·√(n/2) compares against the ~1.36 Kolmogorov-Smirnov-style 5%
    band (Brown-Durbin-Evans applied to squares). Complements the MEAN
    changepoint family (q166 CUSUM, a527 Pettitt, a528 Buishand/SNHT,
    a563 Page-Hinkley) — those miss pure volatility shifts, which is
    what this detects. The argmax runs on the exact BIGINT cross-
    multiplied deviation |S_k·n − k·S_n| (no division before the
    terminal scaling), tie-broken to the earliest day; squares of the
    a038-unit-scaled yk keep int64 headroom at every corpus scale."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), money_units("o_totalprice", 100).alias("y")
    ).localCheckpoint(eager=False)
    daily = unit_scaled(daily, "y", 3000, "yk")
    seq = daily.select(
        "d",
        F.expr("CAST(yk * yk AS BIGINT)").alias("sq"),
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("k"),
    )
    wcum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = seq.select(
        "d",
        "k",
        F.sum("sq").over(wcum).cast("bigint").alias("sk"),
        F.sum("sq").over(wall).cast("bigint").alias("sn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    dev = cum.select(
        "d",
        "k",
        "n",
        "sn",
        F.expr("CAST(ABS(sk * n - k * sn) AS BIGINT)").alias("num"),
    )
    best = dev.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("num").desc(), "k"))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    stat = "CAST(num AS DOUBLE) / n / sn * SQRT(n / 2.0)"
    return best.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_at_max"),
        F.col("d").alias("break_date"),
        F.round(F.expr("CAST(num AS DOUBLE) / n / sn"), 6).alias("dmax_r"),
        F.round(F.expr(stat), 6).alias("stat_r"),
        F.expr(f"CASE WHEN {stat} > 1.36 THEN 1 ELSE 0 END").alias(
            "break_flag"
        ),
    )


@query(
    "a241_renewal_function",
    oracle="""
WITH firsts AS (
  SELECT o_custkey,
         MIN(CAST(o_orderdate AS DATE)) AS f
  FROM orders GROUP BY o_custkey
), nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM firsts),
rep AS (
  SELECT CAST(CAST(o.o_orderdate AS DATE) - fs.f AS BIGINT) AS delta
  FROM orders o JOIN firsts fs ON o.o_custkey = fs.o_custkey
  WHERE CAST(o.o_orderdate AS DATE) > fs.f
), grid AS (SELECT UNNEST([7, 30, 91, 182, 365]) AS h),
agg AS (
  SELECT g.h,
         CAST(SUM(CASE WHEN r.delta <= g.h THEN 1 ELSE 0 END) AS BIGINT)
           AS repeats
  FROM rep r CROSS JOIN grid g GROUP BY g.h
)
SELECT a.h AS horizon_days, a.repeats AS repeat_orders,
       n.n_cust AS n_customers,
       CAST(a.repeats * 1000000 // n.n_cust AS BIGINT) AS m_hat_ppm
FROM agg a CROSS JOIN nc n ORDER BY a.h
""",
    tags=("events", "renewal"),
)
def a241_renewal_function(spark, sf_dir):
    """Empirical renewal function of repeat purchasing: M̂(t) = average
    number of FOLLOW-UP orders a customer places within t days of their
    first order, on the horizon grid {7, 30, 91, 182, 365} — the
    renewal-theory summary that inventory/CRM models consume directly
    (a153 models the interarrival distribution; the renewal function is
    its integrated counterpart and needs no distributional assumption).
    Exact BIGINT counting end-to-end: one groupBy for first-order
    dates, one co-partitioned self-join on custkey, a 5-arm horizon
    aggregate, ppm ratios by integer division. Same-day repeat orders
    (delta = 0) are excluded — the renewal clock starts after the
    first purchase completes."""
    o = table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("f")
    )
    nc = firsts.agg(F.count("*").cast("bigint").alias("n_cust"))
    rep = (
        o.join(firsts, "o_custkey")
        .filter(F.col("o_orderdate").cast("date") > F.col("f"))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), "f")
            .cast("bigint")
            .alias("delta")
        )
    )
    grid = spark.sql("SELECT explode(array(7, 30, 91, 182, 365)) AS h")
    agg = (
        rep.crossJoin(F.broadcast(grid))
        .groupBy("h")
        .agg(
            F.sum(F.expr("CASE WHEN delta <= h THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("repeats")
        )
    )
    return (
        agg.crossJoin(F.broadcast(nc))
        .select(
            F.col("h").alias("horizon_days"),
            F.col("repeats").alias("repeat_orders"),
            F.col("n_cust").alias("n_customers"),
            F.expr("CAST(repeats * 1000000 div n_cust AS BIGINT)").alias(
                "m_hat_ppm"
            ),
        )
        .orderBy("horizon_days")
    )
