"""Round-10 battery extension (a572–a590): nonlinear time-series
complexity (Hjorth parameters, sample entropy, Higuchi fractal
dimension, detrended fluctuation analysis), econometric diagnostics
(Goldfeld–Quandt split-sample heteroscedasticity, Engle–Granger
two-step cointegration, Pesaran–Timmermann directional accuracy), a
truncated Katz path-count index over the co-purchase graph, the
second-order association-rule strength measures (conviction, leverage,
all-confidence, cosine, Jaccard) a422 left out, and a Hawkes-style
self-excitation audit of the event stream. The a582–a584 extension
adds max-drawdown/Ulcer and historical VaR/ES tail-risk monitors on
the daily revenue level and a walk-count (exact-integer power
iteration) eigenvector centrality over the co-purchase graph;
a585–a586 add Kleinberg two-state burst detection (Viterbi via
F.aggregate vs recursive-CTE oracle) and the Hill/DEdH tail-index
pair; a587 adds exact matrix-profile motif/discord discovery;
a588–a590 add Baron–Kenny/Sobel mediation, a Scheffé simultaneous
contrast, and a Poisson log-link IRLS trend fit.

Shared design rules (the monitoring.py discipline): ONE map-side
combined aggregate folds the corpus to a keyed summary; every
cross-row sum is an exact BIGINT (fixed-point where the source is a
double); transcendentals run once per group/scalar on identical exact
inputs and feed a terminal ``round(x, 6)``; pure-rational outputs are
emitted as RAW exact-integer ratios (BIGINT/BIGINT -> DOUBLE is
bit-identical cross-engine, the a452 pattern — no rounding, no
half-boundary tie risk); pairwise self-joins run only over
calendar-bounded panels (30-day daily series) or hash-bounded node
panels.

Reference parity target: junegunn/grouper exposes no statistics
surface (src/grouper/core.clj is a 155-line micro-batching utility);
these extend the engine's analytics coverage for pipeline monitoring
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import money, money_units
from ..sources import table
from ._series import daily_orders, unit_scaled
from . import query

# Per-event-type daily count series: the calendar-bounded panel every
# complexity statistic in this battery folds to first. 5 types x 30
# days at every scale factor — the raw stream is reduced map-side and
# the statistical stages shuffle ~150 rows no matter the corpus size.
_TDAILY_SQL = """
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
"""


def _tdaily(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))


@query(
    "a572_hjorth_params",
    oracle=f"""
WITH daily AS ({_TDAILY_SQL}),
d1 AS (
  SELECT grp, d, c,
         c - lag(c) OVER (PARTITION BY grp ORDER BY d) AS dx
  FROM daily
), d2 AS (
  SELECT grp, c, dx,
         dx - lag(dx) OVER (PARTITION BY grp ORDER BY d) AS ddx
  FROM d1
), agg AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(COUNT(dx) AS BIGINT) AS n1,
         CAST(SUM(dx) AS BIGINT) AS t1,
         CAST(SUM(dx * dx) AS BIGINT) AS t2,
         CAST(COUNT(ddx) AS BIGINT) AS n2,
         CAST(SUM(ddx) AS BIGINT) AS u1,
         CAST(SUM(ddx * ddx) AS BIGINT) AS u2
  FROM d2 GROUP BY grp
)
SELECT grp, n AS n_days,
       (n * s2 - s1 * s1) / (n * n) AS activity,
       round(sqrt(((n1 * t2 - t1 * t1) / (n1 * n1))
                  / ((n * s2 - s1 * s1) / (n * n))), 6) AS mobility_r,
       round(sqrt(((n2 * u2 - u1 * u1) / (n2 * n2))
                  / ((n1 * t2 - t1 * t1) / (n1 * n1)))
             / sqrt(((n1 * t2 - t1 * t1) / (n1 * n1))
                    / ((n * s2 - s1 * s1) / (n * n))), 6)
         AS complexity_r
FROM agg
ORDER BY grp
""",
    tags=("monitoring", "signal"),
)
def a572_hjorth_params(spark, sf_dir):
    """Hjorth parameters (activity, mobility, complexity) of each event
    type's daily count series — the EEG-era 'is this signal getting
    rougher' triple that summarizes variance, dominant frequency, and
    bandwidth from nothing but the variances of the series and its
    first two differences. Summary-first: one count aggregate to the
    30-day panel, two lag windows on the same per-type partition, and
    ONE grouped fold to exact BIGINT moments (integer counts, integer
    diffs — no fixed-point needed). Activity is a pure integer ratio
    emitted RAW (bit-identical cross-engine); mobility and complexity
    each evaluate sqrt on identical exact rationals once per group
    into a terminal round(x, 6)."""
    daily = _tdaily(spark, sf_dir)
    w = Window.partitionBy("grp").orderBy("d")
    d1 = daily.withColumn("dx", F.col("c") - F.lag("c").over(w))
    d2 = d1.withColumn("ddx", F.col("dx") - F.lag("dx").over(w))
    agg = d2.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count("dx").cast("bigint").alias("n1"),
        F.sum("dx").cast("bigint").alias("t1"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("t2"),
        F.count("ddx").cast("bigint").alias("n2"),
        F.sum("ddx").cast("bigint").alias("u1"),
        F.sum(F.col("ddx") * F.col("ddx")).cast("bigint").alias("u2"),
    )
    var0 = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")) / (
        F.col("n") * F.col("n")
    )
    var1 = (F.col("n1") * F.col("t2") - F.col("t1") * F.col("t1")) / (
        F.col("n1") * F.col("n1")
    )
    var2 = (F.col("n2") * F.col("u2") - F.col("u1") * F.col("u1")) / (
        F.col("n2") * F.col("n2")
    )
    return agg.select(
        "grp",
        F.col("n").alias("n_days"),
        var0.alias("activity"),
        F.round(F.sqrt(var1 / var0), 6).alias("mobility_r"),
        F.round(F.sqrt(var2 / var1) / F.sqrt(var1 / var0), 6).alias(
            "complexity_r"
        ),
    ).orderBy("grp")


@query(
    "a573_sample_entropy",
    oracle=f"""
WITH daily AS ({_TDAILY_SQL}),
ser AS (
  SELECT grp, c AS x1,
         lead(c, 1) OVER (PARTITION BY grp ORDER BY d) AS x2,
         lead(c, 2) OVER (PARTITION BY grp ORDER BY d) AS x3,
         row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
         CAST(GREATEST(1, (MAX(c) OVER (PARTITION BY grp)
                           - MIN(c) OVER (PARTITION BY grp)) // 10)
              AS BIGINT) AS r
  FROM daily
), tpl AS (
  SELECT grp, rn, n, r, x1, x2, x3 FROM ser WHERE rn <= n - 2
), pairs AS (
  SELECT a.grp, a.n, a.r,
         CAST(SUM(CASE WHEN abs(a.x1 - b.x1) <= a.r
                        AND abs(a.x2 - b.x2) <= a.r
                       THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
         CAST(SUM(CASE WHEN abs(a.x1 - b.x1) <= a.r
                        AND abs(a.x2 - b.x2) <= a.r
                        AND abs(a.x3 - b.x3) <= a.r
                       THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
  FROM tpl a JOIN tpl b ON a.grp = b.grp AND a.rn < b.rn
  GROUP BY a.grp, a.n, a.r
)
SELECT grp, n AS n_days, r AS r_tol, b_cnt, a_cnt,
       CASE WHEN a_cnt > 0 AND b_cnt > 0
            THEN round(ln(CAST(b_cnt AS DOUBLE) / a_cnt), 6)
            END AS sampen_r
FROM pairs
ORDER BY grp
""",
    tags=("monitoring", "signal"),
)
def a573_sample_entropy(spark, sf_dir):
    """Sample entropy (m=2, Chebyshev) of each event type's daily count
    series — the regularity statistic that separates predictable load
    (low SampEn) from structureless noise (high), robust to series
    length unlike approximate entropy. The tolerance is an exact
    INTEGER, r = max(1, range//10), so template matching is pure
    integer comparison — no stddev double, no cross-engine epsilon.
    Panel-bounded: templates live on the 30-day series, so the i<j
    self-join is ~380 pairs per type at EVERY corpus scale; A and B
    are exact BIGINT match counts and the single ln runs once per
    group on their exact ratio into a terminal round(x, 6)."""
    daily = _tdaily(spark, sf_dir)
    w = Window.partitionBy("grp").orderBy("d")
    wall = Window.partitionBy("grp")
    ser = daily.select(
        "grp",
        F.col("c").alias("x1"),
        F.lead("c", 1).over(w).alias("x2"),
        F.lead("c", 2).over(w).alias("x3"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.greatest(
            F.lit(1),
            F.expr(
                "(MAX(c) OVER (PARTITION BY grp)"
                " - MIN(c) OVER (PARTITION BY grp)) div 10"
            ),
        )
        .cast("bigint")
        .alias("r"),
    )
    tpl = ser.filter(F.col("rn") <= F.col("n") - 2).localCheckpoint(
        eager=False
    )
    a, b = tpl.alias("a"), tpl.alias("b")
    m2 = (
        F.abs(F.col("a.x1") - F.col("b.x1")) <= F.col("a.r")
    ) & (F.abs(F.col("a.x2") - F.col("b.x2")) <= F.col("a.r"))
    m3 = m2 & (F.abs(F.col("a.x3") - F.col("b.x3")) <= F.col("a.r"))
    pairs = (
        a.join(
            b,
            (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .groupBy(F.col("a.grp").alias("grp"), F.col("a.n").alias("n"), F.col("a.r").alias("r"))
        .agg(
            F.sum(F.when(m2, 1).otherwise(0)).cast("bigint").alias("b_cnt"),
            F.sum(F.when(m3, 1).otherwise(0)).cast("bigint").alias("a_cnt"),
        )
    )
    return pairs.select(
        "grp",
        F.col("n").alias("n_days"),
        F.col("r").alias("r_tol"),
        "b_cnt",
        "a_cnt",
        F.when(
            (F.col("a_cnt") > 0) & (F.col("b_cnt") > 0),
            F.round(
                F.log(F.col("b_cnt").cast("double") / F.col("a_cnt")), 6
            ),
        ).alias("sampen_r"),
    ).orderBy("grp")


@query(
    "a574_higuchi_fd",
    oracle=f"""
WITH daily AS ({_TDAILY_SQL}),
ser AS (
  SELECT grp, c,
         row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM daily
), diffs AS (
  SELECT s1.grp, s1.n,
         CAST(s1.rn - s2.rn AS BIGINT) AS k,
         CAST(((s2.rn - 1) % (s1.rn - s2.rn)) + 1 AS BIGINT) AS m,
         CAST(abs(s1.c - s2.c) AS BIGINT) AS ad
  FROM ser s1 JOIN ser s2
    ON s1.grp = s2.grp AND s1.rn - s2.rn BETWEEN 1 AND 4
), curve AS (
  SELECT grp, n, k, m,
         CAST(SUM(ad) AS BIGINT) AS sum_abs,
         CAST((n - m) // k AS BIGINT) AS cnt
  FROM diffs GROUP BY grp, n, k, m
), lk AS (
  SELECT grp, n, k,
         CAST(SUM(CAST(round(
           (CAST(sum_abs * (n - 1) AS DOUBLE) / (cnt * k * k)) * 1e9,
           0) AS BIGINT)) AS BIGINT) AS l_fp
  FROM curve GROUP BY grp, n, k
), piv AS (
  SELECT grp, MAX(n) AS n,
         MAX(CASE WHEN k = 1 THEN l_fp END) AS f1,
         MAX(CASE WHEN k = 2 THEN l_fp END) AS f2,
         MAX(CASE WHEN k = 3 THEN l_fp END) AS f3,
         MAX(CASE WHEN k = 4 THEN l_fp END) AS f4
  FROM lk GROUP BY grp
)
SELECT grp, n AS n_days, f1, f2, f3, f4,
       round(-(
         (ln(CAST(1 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * ln(CAST(f1 AS DOUBLE) / 1e9)
         + (ln(CAST(2 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * ln(CAST(f2 AS DOUBLE) / 1e9)
         + (ln(CAST(3 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * ln(CAST(f3 AS DOUBLE) / 1e9)
         + (ln(CAST(4 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * ln(CAST(f4 AS DOUBLE) / 1e9)
       ) / (
         (ln(CAST(1 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * (ln(CAST(1 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4)
         + (ln(CAST(2 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * (ln(CAST(2 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4)
         + (ln(CAST(3 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * (ln(CAST(3 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4)
         + (ln(CAST(4 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4) * (ln(CAST(4 AS DOUBLE)) - (ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4)
       ), 6) AS hfd_r
FROM piv
ORDER BY grp
""",
    tags=("monitoring", "signal"),
)
def a574_higuchi_fd(spark, sf_dir):
    """Higuchi fractal dimension (kmax=4) of each event type's daily
    count series — the roughness exponent that flags when a load curve
    stops being smooth-with-noise and becomes fractal churn. The k-th
    curve lengths fold from a rn-vs-rn-k self-join (k = 1..4, band
    join on consecutive row numbers, panel-bounded to ~120 pairs per
    type): |diff| sums per residue class m are exact BIGINTs, each
    L_m(k) is an exact-integer ratio fixed-pointed at nano into a
    BIGINT curve length, and the terminal OLS of ln L(k) on ln k is a
    literal 4-term expression (identical text both engines) with the
    logs evaluated once per group. Outputs the four nano-fixed curve
    lengths (exact) plus the rounded dimension."""
    daily = _tdaily(spark, sf_dir)
    w = Window.partitionBy("grp").orderBy("d")
    wall = Window.partitionBy("grp")
    ser = daily.select(
        "grp",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    ).localCheckpoint(eager=False)
    s1, s2 = ser.alias("s1"), ser.alias("s2")
    diffs = s1.join(
        s2,
        (F.col("s1.grp") == F.col("s2.grp"))
        & (F.col("s1.rn") - F.col("s2.rn") >= 1)
        & (F.col("s1.rn") - F.col("s2.rn") <= 4),
    ).select(
        F.col("s1.grp").alias("grp"),
        F.col("s1.n").alias("n"),
        (F.col("s1.rn") - F.col("s2.rn")).cast("bigint").alias("k"),
        (
            (F.col("s2.rn") - 1) % (F.col("s1.rn") - F.col("s2.rn")) + 1
        )
        .cast("bigint")
        .alias("m"),
        F.abs(F.col("s1.c") - F.col("s2.c")).cast("bigint").alias("ad"),
    )
    curve = diffs.groupBy("grp", "n", "k", "m").agg(
        F.sum("ad").cast("bigint").alias("sum_abs")
    ).withColumn("cnt", F.expr("CAST((n - m) div k AS BIGINT)"))
    lk = curve.groupBy("grp", "n", "k").agg(
        F.sum(
            money(
                (F.col("sum_abs") * (F.col("n") - 1)).cast("double")
                / (F.col("cnt") * F.col("k") * F.col("k")),
                9,
            )
        )
        .cast("bigint")
        .alias("l_fp")
    )
    piv = lk.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("k") == 1, F.col("l_fp"))).alias("f1"),
        F.max(F.when(F.col("k") == 2, F.col("l_fp"))).alias("f2"),
        F.max(F.when(F.col("k") == 3, F.col("l_fp"))).alias("f3"),
        F.max(F.when(F.col("k") == 4, F.col("l_fp"))).alias("f4"),
    )
    # OLS slope of ln L(k) on ln k, written as ONE literal expression
    # with identical text in the oracle so both engines evaluate the
    # same IEEE operation sequence.
    xb = "(ln(CAST(1 AS DOUBLE)) + ln(CAST(2 AS DOUBLE)) + ln(CAST(3 AS DOUBLE)) + ln(CAST(4 AS DOUBLE))) / 4"
    num = " + ".join(
        f"(ln(CAST({k} AS DOUBLE)) - {xb}) * ln(CAST(f{k} AS DOUBLE) / 1e9)"
        for k in (1, 2, 3, 4)
    )
    den = " + ".join(
        f"(ln(CAST({k} AS DOUBLE)) - {xb}) * (ln(CAST({k} AS DOUBLE)) - {xb})"
        for k in (1, 2, 3, 4)
    )
    return piv.select(
        "grp",
        F.col("n").alias("n_days"),
        "f1",
        "f2",
        "f3",
        "f4",
        F.expr(f"round(-({num}) / ({den}), 6)").alias("hfd_r"),
    ).orderBy("grp")


@query(
    "a575_dfa_alpha",
    oracle="""
WITH daily0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
  FROM orders GROUP BY d
), uk AS (
  SELECT GREATEST(1, (CAST(SUM(v) AS BIGINT) // COUNT(*)) // 30) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(v // u AS BIGINT) AS c FROM daily0 CROSS JOIN uk
), ser AS (
  SELECT row_number() OVER (ORDER BY d) AS rn, c,
         CAST(SUM(c) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS p,
         CAST(SUM(c) OVER () AS BIGINT) AS s,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), prof AS (
  SELECT rn, n, n * p - rn * s AS y FROM ser
), boxed AS (
  SELECT sc.s AS bs, p.n,
         (p.rn - 1) // sc.s AS box,
         ((p.rn - 1) % sc.s) + 1 AS t,
         p.y - first_value(p.y) OVER (
           PARTITION BY sc.s, (p.rn - 1) // sc.s ORDER BY p.rn) AS yy
  FROM prof p
  CROSS JOIN (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS s) sc
  WHERE (p.rn - 1) // sc.s < p.n // sc.s
), bstat AS (
  SELECT bs, box,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(t * t) AS BIGINT) AS sxx,
         CAST(SUM(yy) AS BIGINT) AS sy,
         CAST(SUM(yy * yy) AS BIGINT) AS syy,
         CAST(SUM(t * yy) AS BIGINT) AS sxy
  FROM boxed GROUP BY bs, box
), bss AS (
  SELECT bs,
         CAST(round(
           (CAST(m * sxx - sx * sx AS DOUBLE) * (m * syy - sy * sy)
            - CAST(m * sxy - sx * sy AS DOUBLE) * (m * sxy - sx * sy))
           / (m * (m * sxx - sx * sx)) * 1000, 0) AS BIGINT) AS ss_fp,
         m
  FROM bstat
), fs AS (
  SELECT bs, CAST(SUM(ss_fp) AS BIGINT) AS ss_sum,
         CAST(SUM(m) AS BIGINT) AS n_used
  FROM bss GROUP BY bs
), piv AS (
  SELECT MAX(CASE WHEN bs = 8 THEN ss_sum END) AS ss8,
         MAX(CASE WHEN bs = 8 THEN n_used END) AS m8,
         MAX(CASE WHEN bs = 16 THEN ss_sum END) AS ss16,
         MAX(CASE WHEN bs = 16 THEN n_used END) AS m16,
         MAX(CASE WHEN bs = 32 THEN ss_sum END) AS ss32,
         MAX(CASE WHEN bs = 32 THEN n_used END) AS m32
  FROM fs
)
SELECT ss8, m8, ss16, m16, ss32, m32,
       round((ln(CAST(ss32 AS DOUBLE) / m32)
              - ln(CAST(ss8 AS DOUBLE) / m8))
             / (2 * (ln(CAST(32 AS DOUBLE)) - ln(CAST(16 AS DOUBLE)))) / 2,
             6) AS alpha_r
FROM piv
""",
    tags=("monitoring", "signal"),
)
def a575_dfa_alpha(spark, sf_dir):
    """Detrended fluctuation analysis scaling exponent (alpha) of the
    daily order-count series — the long-range-correlation detector
    (alpha≈0.5 white, ≈1 1/f, >1 non-stationary drift) behind capacity
    planning on bursty arrival streams. The profile is kept EXACT by
    clearing denominators: Y_t = n·cumsum − t·total (BIGINT), counts
    pre-scaled by the adaptive unit u = max(1, mean//30) so squared
    box moments stay overflow-safe at any corpus scale (the a038
    lesson); each box's OLS-detrended residual SS is a closed-form
    ratio of exact BIGINT Gram determinants (shift-invariant after
    subtracting the box's first profile value, which bounds
    magnitudes), fixed-pointed at milli and summed exactly. alpha is
    the 3-point log-log slope (box sizes 8/16/32, equally log-spaced,
    so slope = (y3−y1)/(2h)) with the logs evaluated once per scalar.
    Outputs the exact milli-fixed fluctuation sums plus alpha."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, F.count("*").cast("bigint").alias("v"))
    daily = unit_scaled(daily, "v", 30, "c")
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    ser = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        "c",
        F.sum("c").over(wcum).cast("bigint").alias("p"),
        F.sum("c").over(wall).cast("bigint").alias("s"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    prof = ser.select(
        "rn", "n", (F.col("n") * F.col("p") - F.col("rn") * F.col("s")).alias("y")
    ).localCheckpoint(eager=False)
    scales = spark.range(1).select(
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("bs")
    ).select(F.col("bs").cast("bigint").alias("bs"))
    boxed = (
        prof.crossJoin(F.broadcast(scales))
        .filter(
            F.expr("(rn - 1) div bs") < F.expr("n div bs")
        )
        .select(
            "bs",
            F.expr("(rn - 1) div bs").alias("box"),
            (((F.col("rn") - 1) % F.col("bs")) + 1).alias("t"),
            "y",
            "rn",
        )
        .withColumn(
            "yy",
            F.col("y")
            - F.first("y").over(
                Window.partitionBy("bs", "box").orderBy("rn")
            ),
        )
    )
    bstat = boxed.groupBy("bs", "box").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("sxx"),
        F.sum("yy").cast("bigint").alias("sy"),
        F.sum(F.col("yy") * F.col("yy")).cast("bigint").alias("syy"),
        F.sum(F.col("t") * F.col("yy")).cast("bigint").alias("sxy"),
    )
    bss = bstat.select(
        "bs",
        F.expr(
            "CAST(round((CAST(m * sxx - sx * sx AS DOUBLE)"
            " * (m * syy - sy * sy)"
            " - CAST(m * sxy - sx * sy AS DOUBLE) * (m * sxy - sx * sy))"
            " / (m * (m * sxx - sx * sx)) * 1000, 0) AS BIGINT)"
        ).alias("ss_fp"),
        "m",
    )
    fs = bss.groupBy("bs").agg(
        F.sum("ss_fp").cast("bigint").alias("ss_sum"),
        F.sum("m").cast("bigint").alias("n_used"),
    )
    piv = fs.agg(
        F.max(F.when(F.col("bs") == 8, F.col("ss_sum"))).alias("ss8"),
        F.max(F.when(F.col("bs") == 8, F.col("n_used"))).alias("m8"),
        F.max(F.when(F.col("bs") == 16, F.col("ss_sum"))).alias("ss16"),
        F.max(F.when(F.col("bs") == 16, F.col("n_used"))).alias("m16"),
        F.max(F.when(F.col("bs") == 32, F.col("ss_sum"))).alias("ss32"),
        F.max(F.when(F.col("bs") == 32, F.col("n_used"))).alias("m32"),
    )
    return piv.select(
        "ss8",
        "m8",
        "ss16",
        "m16",
        "ss32",
        "m32",
        F.expr(
            "round((ln(CAST(ss32 AS DOUBLE) / m32)"
            " - ln(CAST(ss8 AS DOUBLE) / m8))"
            " / (2 * (ln(CAST(32 AS DOUBLE)) - ln(CAST(16 AS DOUBLE)))) / 2,"
            " 6)"
        ).alias("alpha_r"),
    )


@query(
    "a576_goldfeld_quandt",
    oracle="""
WITH li AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
         CAST(round(l_extendedprice / 38, 0) AS BIGINT) AS y,
         l_orderkey, l_linenumber
  FROM lineitem
), ranked AS (
  SELECT grp, x, y,
         row_number() OVER (PARTITION BY grp
                            ORDER BY x, y, l_orderkey, l_linenumber)
           AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM li
), seg AS (
  SELECT grp, n, x, y,
         CASE WHEN rn <= (n * 3) // 8 THEN 1
              WHEN rn > n - (n * 3) // 8 THEN 2 END AS s
  FROM ranked
), stats AS (
  SELECT grp, s, MAX(n) AS n,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM seg WHERE s IS NOT NULL GROUP BY grp, s
), ssr AS (
  SELECT grp, s, n, m,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m
         - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
           * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m)
           AS rss
  FROM stats
), piv AS (
  SELECT grp, MAX(n) AS n, MAX(m) AS m,
         MAX(CASE WHEN s = 1 THEN rss END) AS rss1,
         MAX(CASE WHEN s = 2 THEN rss END) AS rss2
  FROM ssr GROUP BY grp
)
SELECT grp, n AS n_rows, m AS m_seg,
       round(rss1, 2) AS rss1_r,
       round(rss2, 2) AS rss2_r,
       round(rss2 / rss1, 6) AS gq_f_r
FROM piv
ORDER BY grp
""",
    tags=("inference", "regression"),
)
def a576_goldfeld_quandt(spark, sf_dir):
    """Goldfeld–Quandt heteroscedasticity test for the price-on-
    quantity regression per return flag: order by the regressor, drop
    the middle quarter, and F-ratio the residual sums of squares of
    the outer 3/8 segments — the classic 'does error variance grow
    with x' check that Breusch–Pagan (a139-class) complements. All
    segment moments are exact BIGINTs (quantity fixed-pointed at
    centi, price unit-scaled to ~1k mean so m·Syy clears int64 at the
    10x gate); each segment's RSS is evaluated in DOUBLE from those
    exact integers with identical expression text both engines
    (squares taken AFTER the cast — the Sy² BIGINT overflow lesson),
    and the tie-safe total order (x, y, orderkey, linenumber) makes
    the row_number split deterministic: residual duplicate keys have
    identical (x, y) so segment sums are permutation-invariant."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_quantity") * 100, 0).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") / 38, 0).cast("bigint").alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = Window.partitionBy("grp").orderBy(
        "x", "y", "l_orderkey", "l_linenumber"
    )
    wall = Window.partitionBy("grp")
    ranked = li.select(
        "grp",
        "x",
        "y",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    seg = ranked.select(
        "grp",
        "n",
        "x",
        "y",
        F.when(F.col("rn") <= F.expr("(n * 3) div 8"), 1)
        .when(F.col("rn") > F.col("n") - F.expr("(n * 3) div 8"), 2)
        .alias("s"),
    ).filter(F.col("s").isNotNull())
    stats = seg.groupBy("grp", "s").agg(
        F.max("n").alias("n"),
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    ssr = stats.select(
        "grp",
        "s",
        "n",
        "m",
        F.expr(
            "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m"
            " - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)"
            " * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)"
            " / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m)"
        ).alias("rss"),
    )
    piv = ssr.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.max(F.when(F.col("s") == 1, F.col("rss"))).alias("rss1"),
        F.max(F.when(F.col("s") == 2, F.col("rss"))).alias("rss2"),
    )
    return piv.select(
        "grp",
        F.col("n").alias("n_rows"),
        F.col("m").alias("m_seg"),
        F.round("rss1", 2).alias("rss1_r"),
        F.round("rss2", 2).alias("rss2_r"),
        F.round(F.col("rss2") / F.col("rss1"), 6).alias("gq_f_r"),
    ).orderBy("grp")


@query(
    "a577_engle_granger",
    oracle="""
WITH daily0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), uk AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, v, CAST(y // u AS BIGINT) AS yk FROM daily0 CROSS JOIN uk
), s1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS sv,
         CAST(SUM(v * v) AS BIGINT) AS svv,
         CAST(SUM(yk) AS BIGINT) AS sy,
         CAST(SUM(v * yk) AS BIGINT) AS svy
  FROM daily
), coef AS (
  SELECT n,
         CAST(n * svy - sv * sy AS DOUBLE) / (n * svv - sv * sv) AS b,
         (sy - CAST(n * svy - sv * sy AS DOUBLE) / (n * svv - sv * sv)
               * sv) / n AS a
  FROM s1
), resid AS (
  SELECT d.d,
         CAST(round((d.yk - c.a - c.b * d.v) * 1000, 0) AS BIGINT) AS e
  FROM daily d CROSS JOIN coef c
), lagd AS (
  SELECT e - lag(e) OVER (ORDER BY d) AS de,
         lag(e) OVER (ORDER BY d) AS le
  FROM resid
), s2 AS (
  SELECT CAST(COUNT(le) AS BIGINT) AS m,
         CAST(SUM(de * le) AS BIGINT) AS sdl,
         CAST(SUM(le * le) AS BIGINT) AS sll,
         CAST(SUM(de * de) AS BIGINT) AS sdd
  FROM lagd WHERE le IS NOT NULL
)
SELECT c.n AS n_days,
       round(c.b, 6) AS beta_r,
       CAST(s2.sdl AS DOUBLE) / s2.sll AS gamma,
       round((CAST(s2.sdl AS DOUBLE) / s2.sll)
             / sqrt(((CAST(s2.sdd AS DOUBLE)
                      - CAST(s2.sdl AS DOUBLE) * s2.sdl / s2.sll)
                     / (s2.m - 1)) / s2.sll), 6) AS adf_t_r
FROM coef c CROSS JOIN s2
""",
    tags=("inference", "timeseries"),
)
def a577_engle_granger(spark, sf_dir):
    """Engle–Granger two-step cointegration test between the daily
    order count and daily revenue series: OLS revenue-on-count from
    exact BIGINT moments, then a no-constant Dickey–Fuller regression
    of the residual's first difference on its lag — the 'do these two
    KPIs share a common trend' check that plain correlation cannot
    answer. The step-1 residuals are doubles built from identical
    exact inputs (bit-identical cross-engine), fixed-pointed at milli
    into BIGINTs so BOTH step-2 cross-row sums are exact; revenue
    rides the a201 adaptive kilodollar unit so squared residual sums
    clear int64 at any corpus scale. gamma is a raw exact ratio; the
    ADF t emits after one sqrt per corpus."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o,
        F.count("*").cast("bigint").alias("v"),
        money_units("o_totalprice", 100).alias("y"),
    )
    daily = unit_scaled(daily, "y", 3000, "yk").localCheckpoint(eager=False)
    s1 = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("svv"),
        F.sum("yk").cast("bigint").alias("sy"),
        F.sum(F.col("v") * F.col("yk")).cast("bigint").alias("svy"),
    )
    coef = s1.select(
        "n",
        F.expr(
            "CAST(n * svy - sv * sy AS DOUBLE) / (n * svv - sv * sv)"
        ).alias("b"),
        F.expr(
            "(sy - CAST(n * svy - sv * sy AS DOUBLE)"
            " / (n * svv - sv * sv) * sv) / n"
        ).alias("a"),
    )
    resid = daily.crossJoin(F.broadcast(coef)).select(
        "d",
        F.round(
            (F.col("yk") - F.col("a") - F.col("b") * F.col("v")) * 1000, 0
        )
        .cast("bigint")
        .alias("e"),
        "n",
    )
    w = Window.orderBy("d")
    lagd = resid.select(
        "n",
        (F.col("e") - F.lag("e").over(w)).alias("de"),
        F.lag("e").over(w).alias("le"),
    ).filter(F.col("le").isNotNull())
    s2 = lagd.groupBy("n").agg(
        F.count("le").cast("bigint").alias("m"),
        F.sum(F.col("de") * F.col("le")).cast("bigint").alias("sdl"),
        F.sum(F.col("le") * F.col("le")).cast("bigint").alias("sll"),
        F.sum(F.col("de") * F.col("de")).cast("bigint").alias("sdd"),
    )
    return s2.crossJoin(F.broadcast(coef.select("b"))).select(
        F.col("n").alias("n_days"),
        F.round(F.col("b"), 6).alias("beta_r"),
        F.expr("CAST(sdl AS DOUBLE) / sll").alias("gamma"),
        F.expr(
            "round((CAST(sdl AS DOUBLE) / sll)"
            " / sqrt(((CAST(sdd AS DOUBLE)"
            " - CAST(sdl AS DOUBLE) * sdl / sll)"
            " / (m - 1)) / sll), 6)"
        ).alias("adf_t_r"),
    )


@query(
    "a578_pesaran_timmermann",
    oracle=f"""
WITH daily AS ({_TDAILY_SQL}),
diffs AS (
  SELECT grp, d,
         CASE WHEN c - lag(c) OVER (PARTITION BY grp ORDER BY d) > 0
              THEN 1 ELSE 0 END AS up,
         c - lag(c) OVER (PARTITION BY grp ORDER BY d) AS dx
  FROM daily
), fc AS (
  SELECT grp, up,
         lag(up) OVER (PARTITION BY grp ORDER BY d) AS pred,
         lag(dx) OVER (PARTITION BY grp ORDER BY d) AS pdx
  FROM diffs WHERE dx IS NOT NULL
), agg AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(CASE WHEN up = pred THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
         CAST(SUM(up) AS BIGINT) AS na,
         CAST(SUM(pred) AS BIGINT) AS nf
  FROM fc WHERE pred IS NOT NULL GROUP BY grp
)
SELECT grp, t AS t_n, n_correct, na AS n_up_actual, nf AS n_up_pred,
       CAST(n_correct AS DOUBLE) / t AS p_hat,
       (CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t)
         AS p_star,
       round((CAST(n_correct AS DOUBLE) / t
              - (CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t))
             / sqrt(
        ((CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t))
        * (1 - (CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t))
        / t
        - (
          (2 * CAST(na AS DOUBLE) / t - 1) * (2 * CAST(na AS DOUBLE) / t - 1)
            * (CAST(nf AS DOUBLE) / t) * (1 - CAST(nf AS DOUBLE) / t)
          + (2 * CAST(nf AS DOUBLE) / t - 1) * (2 * CAST(nf AS DOUBLE) / t - 1)
            * (CAST(na AS DOUBLE) / t) * (1 - CAST(na AS DOUBLE) / t)
          + 4 * (CAST(na AS DOUBLE) / t) * (CAST(nf AS DOUBLE) / t)
            * (1 - CAST(na AS DOUBLE) / t) * (1 - CAST(nf AS DOUBLE) / t) / t
        ) / t), 6) AS pt_z_r
FROM agg
ORDER BY grp
""",
    tags=("inference", "timeseries"),
)
def a578_pesaran_timmermann(spark, sf_dir):
    """Pesaran–Timmermann directional accuracy test of the momentum
    forecast 'tomorrow moves the way today moved' on each event type's
    daily counts — the market-timing significance test that separates
    a real directional edge from the base-rate agreement two biased
    sign series produce by chance. Everything folds to four exact
    BIGINT counts per type (T, hits, actual-ups, predicted-ups); the
    hit rate and the independence benchmark P* are raw exact-integer
    ratios, and the studentized z evaluates the closed-form PT
    variance in identical expression text with ONE sqrt per group."""
    daily = _tdaily(spark, sf_dir)
    w = Window.partitionBy("grp").orderBy("d")
    diffs = daily.select(
        "grp",
        "d",
        F.when(F.col("c") - F.lag("c").over(w) > 0, 1).otherwise(0).alias("up"),
        (F.col("c") - F.lag("c").over(w)).alias("dx"),
    )
    fc = diffs.filter(F.col("dx").isNotNull()).select(
        "grp",
        "up",
        F.lag("up").over(w).alias("pred"),
    )
    agg = fc.filter(F.col("pred").isNotNull()).groupBy("grp").agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum(F.when(F.col("up") == F.col("pred"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.sum("up").cast("bigint").alias("na"),
        F.sum("pred").cast("bigint").alias("nf"),
    )
    return agg.select(
        "grp",
        F.col("t").alias("t_n"),
        "n_correct",
        F.col("na").alias("n_up_actual"),
        F.col("nf").alias("n_up_pred"),
        F.expr("CAST(n_correct AS DOUBLE) / t").alias("p_hat"),
        F.expr(
            "(CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t)"
        ).alias("p_star"),
        F.expr(
            "round((CAST(n_correct AS DOUBLE) / t"
            " - (CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t))"
            " / sqrt("
            "((CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t))"
            " * (1 - (CAST(na * nf AS DOUBLE) + (t - na) * (t - nf)) / (t * t))"
            " / t"
            " - ("
            "(2 * CAST(na AS DOUBLE) / t - 1) * (2 * CAST(na AS DOUBLE) / t - 1)"
            " * (CAST(nf AS DOUBLE) / t) * (1 - CAST(nf AS DOUBLE) / t)"
            " + (2 * CAST(nf AS DOUBLE) / t - 1) * (2 * CAST(nf AS DOUBLE) / t - 1)"
            " * (CAST(na AS DOUBLE) / t) * (1 - CAST(na AS DOUBLE) / t)"
            " + 4 * (CAST(na AS DOUBLE) / t) * (CAST(nf AS DOUBLE) / t)"
            " * (1 - CAST(na AS DOUBLE) / t) * (1 - CAST(nf AS DOUBLE) / t) / t"
            ") / t), 6)"
        ).alias("pt_z_r"),
    ).orderBy("grp")


@query(
    "a579_katz_index",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
), src AS (
  SELECT DISTINCT u FROM edges WHERE u % 199 = 0 ORDER BY u LIMIT 10
), panel AS (
  SELECT e.u, e.v FROM edges e JOIN src s ON s.u = e.u
), p2 AS (
  SELECT p.u, e.v, CAST(COUNT(*) AS BIGINT) AS n2
  FROM panel p JOIN edges e ON e.u = p.v
  GROUP BY p.u, e.v
), p3 AS (
  SELECT p.u, e.v, CAST(SUM(p.n2) AS BIGINT) AS n3
  FROM p2 p JOIN edges e ON e.u = p.v
  GROUP BY p.u, e.v
), uni AS (
  SELECT u, v,
         CAST(SUM(w1) AS BIGINT) AS n1,
         CAST(SUM(w2) AS BIGINT) AS n2,
         CAST(SUM(w3) AS BIGINT) AS n3
  FROM (
    SELECT u, v, CAST(1 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
           CAST(0 AS BIGINT) AS w3
    FROM panel
    UNION ALL
    SELECT u, v, 0, n2, 0 FROM p2
    UNION ALL
    SELECT u, v, 0, 0, n3 FROM p3
  ) GROUP BY u, v
)
SELECT u, v, n1, n2, n3,
       400 * n1 + 20 * n2 + n3 AS katz_num,
       CAST(400 * n1 + 20 * n2 + n3 AS DOUBLE) / 8000 AS katz
FROM uni
WHERE u <> v
ORDER BY katz_num DESC, u, v
LIMIT 20
""",
    tags=("analytics", "graph"),
)
def a579_katz_index(spark, sf_dir):
    """Truncated Katz index (beta=0.05, walks up to length 3) from a
    hash-bounded panel of source parts over the within-order
    co-purchase graph — the walk-counting relatedness score that ranks
    'parts reachable through many short paths' above mere direct
    neighbors, the primitive behind graph-based recommendation
    re-ranking. Path counts are EXACT BIGINTs from two chained equi
    joins (adjacency is deduped first, the non-unique-lineitem-key
    lesson); the probe set is a deterministic 10-source panel (the
    first ten hash-selected part keys, pinned by ORDER BY + LIMIT so
    the broadcast is provably bounded) — co-purchase degree does not
    grow with corpus size, so the length-3 fan-out is CONSTANT work
    at any scale; katz = (400·n1 + 20·n2 + n3)/8000 keeps the score an
    exact integer numerator (deterministic ORDER BY, raw exact-ratio
    output — no rounding at all)."""
    from ..operators.core import ensure_parallelism

    li = ensure_parallelism(table(spark, sf_dir, "lineitem"))
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    src = (
        edges.filter(F.col("u") % 199 == 0)
        .select("u")
        .distinct()
        .orderBy("u")
        .limit(10)
    )
    panel = edges.join(F.broadcast(src), "u")
    e2 = edges.alias("e")
    p2 = (
        panel.alias("p")
        .join(e2, F.col("e.u") == F.col("p.v"))
        .groupBy(F.col("p.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count("*").cast("bigint").alias("n2"))
    )
    p3 = (
        F.broadcast(p2.alias("p"))
        .join(e2, F.col("e.u") == F.col("p.v"))
        .groupBy(F.col("p.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.sum("p.n2").cast("bigint").alias("n3"))
    )
    zero = F.lit(0).cast("bigint")
    uni = (
        panel.select(
            "u",
            "v",
            F.lit(1).cast("bigint").alias("w1"),
            zero.alias("w2"),
            zero.alias("w3"),
        )
        .unionAll(
            p2.select("u", "v", zero.alias("w1"), F.col("n2").alias("w2"), zero.alias("w3"))
        )
        .unionAll(
            p3.select("u", "v", zero.alias("w1"), zero.alias("w2"), F.col("n3").alias("w3"))
        )
        .groupBy("u", "v")
        .agg(
            F.sum("w1").cast("bigint").alias("n1"),
            F.sum("w2").cast("bigint").alias("n2"),
            F.sum("w3").cast("bigint").alias("n3"),
        )
    )
    return (
        uni.filter(F.col("u") != F.col("v"))
        .select(
            "u",
            "v",
            "n1",
            "n2",
            "n3",
            (400 * F.col("n1") + 20 * F.col("n2") + F.col("n3")).alias(
                "katz_num"
            ),
            F.expr(
                "CAST(400 * n1 + 20 * n2 + n3 AS DOUBLE) / 8000"
            ).alias("katz"),
        )
        .orderBy(F.col("katz_num").desc(), "u", "v")
        .limit(20)
    )


@query(
    "a580_rule_strength",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_orders AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM lp
), item AS (
  SELECT l_partkey AS it, CAST(COUNT(*) AS BIGINT) AS n_it FROM lp
  GROUP BY it
), pair AS (
  SELECT a.l_partkey AS ant, b.l_partkey AS cons,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
  GROUP BY ant, cons
), rules AS (
  SELECT p.ant, p.cons, p.n_ab, ia.n_it AS n_a, ic.n_it AS n_c,
         (SELECT n FROM n_orders) AS n,
         p.n_ab * (SELECT n FROM n_orders) - ia.n_it * ic.n_it
           AS lev_num
  FROM pair p
  JOIN item ia ON ia.it = p.ant
  JOIN item ic ON ic.it = p.cons
  WHERE p.n_ab >= 3
), top AS (
  SELECT * FROM rules
  WHERE lev_num > 0
  ORDER BY lev_num DESC, ant, cons
  LIMIT 20
)
SELECT ant, cons, n_ab, lev_num,
       CAST(lev_num AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS leverage,
       CASE WHEN n_ab < n_a
            THEN CAST((n - n_c) * n_a AS DOUBLE) / (n * (n_a - n_ab))
            END AS conviction,
       CAST(n_ab AS DOUBLE) / GREATEST(n_a, n_c) AS all_conf,
       round(CAST(n_ab AS DOUBLE) / sqrt(CAST(n_a AS DOUBLE) * n_c), 6)
         AS cosine_r,
       CAST(n_ab AS DOUBLE) / (n_a + n_c - n_ab) AS jaccard
FROM top
ORDER BY lev_num DESC, ant, cons
""",
    tags=("analytics", "mining"),
)
def a580_rule_strength(spark, sf_dir):
    """Second-order association-rule strength for the top co-purchase
    rules: leverage (support lift in absolute terms), conviction
    (directional error-rate ratio), all-confidence, cosine, and
    Jaccard — the null-invariant measures that survive when raw lift
    saturates on rare items, completing a422's support/confidence/
    lift. Leverage ranks by its EXACT integer numerator
    n_ab·n − n_a·n_c (deterministic top-20 before any division);
    every emitted measure except cosine is a raw exact-BIGINT ratio
    (bit-identical cross-engine, no rounding); cosine's sqrt runs on
    exact integers for only the 20 surviving rows."""
    li = table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=False
    )
    n_orders = lp.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    item = lp.groupBy(F.col("l_partkey").alias("it")).agg(
        F.count("*").cast("bigint").alias("n_it")
    )
    a, b = lp.alias("a"), lp.alias("b")
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("ant"),
            F.col("b.l_partkey").alias("cons"),
        )
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    rules = (
        pair.join(item.withColumnRenamed("it", "ant").withColumnRenamed("n_it", "n_a"), "ant")
        .join(item.withColumnRenamed("it", "cons").withColumnRenamed("n_it", "n_c"), "cons")
        .crossJoin(F.broadcast(n_orders))
        .withColumn(
            "lev_num",
            F.col("n_ab") * F.col("n") - F.col("n_a") * F.col("n_c"),
        )
        .filter(F.col("lev_num") > 0)
    )
    top = rules.orderBy(F.col("lev_num").desc(), "ant", "cons").limit(20)
    return top.select(
        "ant",
        "cons",
        "n_ab",
        "lev_num",
        F.expr(
            "CAST(lev_num AS DOUBLE) / (CAST(n AS DOUBLE) * n)"
        ).alias("leverage"),
        F.expr(
            "CASE WHEN n_ab < n_a"
            " THEN CAST((n - n_c) * n_a AS DOUBLE) / (n * (n_a - n_ab))"
            " END"
        ).alias("conviction"),
        F.expr("CAST(n_ab AS DOUBLE) / GREATEST(n_a, n_c)").alias(
            "all_conf"
        ),
        F.expr(
            "round(CAST(n_ab AS DOUBLE) / sqrt(CAST(n_a AS DOUBLE) * n_c), 6)"
        ).alias("cosine_r"),
        F.expr("CAST(n_ab AS DOUBLE) / (n_a + n_c - n_ab)").alias(
            "jaccard"
        ),
    ).orderBy(F.col("lev_num").desc(), "ant", "cons")


@query(
    "a581_self_excitation",
    oracle="""
WITH ev AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         epoch_us(ts) AS t_us, event_id
  FROM events
), gaps AS (
  SELECT grp,
         t_us - lag(t_us) OVER (PARTITION BY grp, d
                                ORDER BY t_us, event_id) AS gap_us
  FROM ev
), agg AS (
  SELECT g.grp,
         CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
         CAST(SUM(CASE WHEN gap_us <= 60000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_trig
  FROM gaps g GROUP BY g.grp
), tot AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MAX(t_us) - MIN(t_us) AS BIGINT) AS t_span
  FROM ev GROUP BY grp
)
SELECT a.grp, t.n, a.n_gaps, a.n_trig,
       CAST(a.n_trig AS DOUBLE) / a.n_gaps AS p_obs,
       round(1 - exp(-(CAST(t.n AS DOUBLE) * 60000000 / t.t_span)), 6)
         AS p_exp_r,
       round((CAST(a.n_trig AS DOUBLE) / a.n_gaps
              - (1 - exp(-(CAST(t.n AS DOUBLE) * 60000000 / t.t_span))))
             / exp(-(CAST(t.n AS DOUBLE) * 60000000 / t.t_span)), 6)
         AS excess_r
FROM agg a JOIN tot t ON t.grp = a.grp
ORDER BY a.grp
""",
    tags=("events", "monitoring"),
)
def a581_self_excitation(spark, sf_dir):
    """Hawkes-style self-excitation audit of the event stream: for
    each type, the share of within-day inter-arrival gaps under 60 s
    versus the exp(-lambda*60s) share a memoryless Poisson stream of
    the same rate would produce — the excess (normalized by the
    Poisson miss rate) is a branching-ratio proxy that flags
    retry-storm / cascade behavior. Gaps are exact integer
    microsecond diffs from a lag window partitioned by (type, DAY) —
    calendar-bounded so no single partition grows with corpus size
    (cross-midnight gaps are dropped by convention); the observed
    share is a raw exact-BIGINT ratio and the two exp() calls run
    once per type on identical exact-rational arguments."""
    ev = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("grp", "d").orderBy("t_us", "event_id")
    gaps = ev.select(
        "grp",
        "t_us",
        (F.col("t_us") - F.lag("t_us").over(w)).alias("gap_us"),
    )
    # ONE fold produces both the gap statistics and the global span —
    # a single pass over the stream instead of a second corpus scan
    # for min/max (plan-diagnostic: 2 FileScans -> 1).
    agg = gaps.groupBy("grp").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.sum(F.when(F.col("gap_us") <= 60000000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_trig"),
        F.count("*").cast("bigint").alias("n"),
        (F.max("t_us") - F.min("t_us")).cast("bigint").alias("t_span"),
    )
    return (
        agg
        .select(
            "grp",
            "n",
            "n_gaps",
            "n_trig",
            F.expr("CAST(n_trig AS DOUBLE) / n_gaps").alias("p_obs"),
            F.expr(
                "round(1 - exp(-(CAST(n AS DOUBLE) * 60000000 / t_span)), 6)"
            ).alias("p_exp_r"),
            F.expr(
                "round((CAST(n_trig AS DOUBLE) / n_gaps"
                " - (1 - exp(-(CAST(n AS DOUBLE) * 60000000 / t_span))))"
                " / exp(-(CAST(n AS DOUBLE) * 60000000 / t_span)), 6)"
            ).alias("excess_r"),
        )
        .orderBy("grp")
    )


# Distinct co-purchase adjacency (directed both ways), shared by
# a579/a584: dedup to (order, part) first — (l_orderkey, l_linenumber)
# is NOT unique in the fixture — then pair within order and dedup to a
# simple graph. Degree does not grow with corpus size (orders/parts
# both scale linearly), so downstream walk folds are linear in sf.
_EDGES_SQL = """
lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
)
"""


def _copart_edges(spark, sf_dir):
    from ..operators.core import ensure_parallelism

    li = ensure_parallelism(table(spark, sf_dir, "lineitem"))
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )


@query(
    "a582_max_drawdown",
    oracle="""
WITH daily0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), uk AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS yk FROM daily0 CROSS JOIN uk
), dd AS (
  SELECT d, yk,
         CAST(MAX(yk) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS peak
  FROM daily
), ppm AS (
  SELECT d, yk, peak, peak - yk AS dd,
         CAST((peak - yk) * 1000000 // peak AS BIGINT) AS dd_ppm
  FROM dd
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(dd) AS BIGINT) AS max_dd,
       CAST(MAX(dd_ppm) AS BIGINT) AS max_dd_ppm,
       round(sqrt(CAST(SUM(dd_ppm * dd_ppm) AS DOUBLE) / COUNT(*))
             / 10000, 6) AS ulcer_r
FROM ppm
""",
    tags=("monitoring", "finance"),
)
def a582_max_drawdown(spark, sf_dir):
    """Maximum drawdown and Ulcer index of the daily revenue level —
    the peak-to-trough stress measures that rank revenue regressions
    by depth AND duration (the Ulcer index integrates squared
    drawdown, so a long shallow slump scores like a short crash).
    One running-max window over the calendar-sized daily panel; the
    drawdown is an exact BIGINT, its ppm normalization is an exact
    integer floor division (positive by construction, so Spark div ==
    DuckDB //), the squared-ppm sum is exact (≤1e12 per day — no
    overflow at any scale), and the single sqrt feeds a terminal
    round(x, 6). Revenue rides the a201 adaptive kilodollar unit."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o, money_units("o_totalprice", 100).alias("y")
    ).localCheckpoint(eager=False)
    daily = unit_scaled(daily, "y", 3000, "yk")
    wrun = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ppm = daily.select(
        "yk",
        F.max("yk").over(wrun).cast("bigint").alias("peak"),
    ).select(
        "yk",
        "peak",
        (F.col("peak") - F.col("yk")).alias("dd"),
        F.expr("CAST((peak - yk) * 1000000 div peak AS BIGINT)").alias(
            "dd_ppm"
        ),
    )
    return ppm.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("dd").cast("bigint").alias("max_dd"),
        F.max("dd_ppm").cast("bigint").alias("max_dd_ppm"),
        F.expr(
            "round(sqrt(CAST(SUM(dd_ppm * dd_ppm) AS DOUBLE) / COUNT(*))"
            " / 10000, 6)"
        ).alias("ulcer_r"),
    )


@query(
    "a583_var_es",
    oracle="""
WITH daily0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY 1
), uk AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS yk FROM daily0 CROSS JOIN uk
), rets AS (
  SELECT d,
         CAST(((yk - lag(yk) OVER (ORDER BY d)) * 1000000
               + lag(yk) OVER (ORDER BY d) * 2000000)
              // lag(yk) OVER (ORDER BY d) - 2000000 AS BIGINT) AS r_ppm
  FROM daily
), ranked AS (
  SELECT r_ppm,
         row_number() OVER (ORDER BY r_ppm, d) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM rets WHERE r_ppm IS NOT NULL
), kd AS (
  SELECT m, (m + 19) // 20 AS k FROM (SELECT DISTINCT m FROM ranked)
)
SELECT k.m AS m_days, k.k AS k_tail,
       CAST(-MAX(CASE WHEN r.rn = k.k THEN r.r_ppm END) AS BIGINT)
         AS var_ppm,
       -(CAST(SUM(CASE WHEN r.rn <= k.k THEN r.r_ppm ELSE 0 END)
              AS DOUBLE) / k.k) AS es_ppm
FROM ranked r CROSS JOIN kd k
GROUP BY k.m, k.k
""",
    tags=("monitoring", "finance"),
)
def a583_var_es(spark, sf_dir):
    """Historical 95% value-at-risk and expected shortfall of the
    day-over-day revenue return — the tail-risk pair (VaR = the 5%
    quantile loss, ES = the mean loss beyond it) that SLO-style
    revenue monitoring wants over any point estimate. Returns are
    exact integer ppm via offset floor division ((x + 2e6·lag)//lag −
    2e6 keeps the numerator positive, so Spark's truncating div and
    DuckDB's flooring // agree on the NEGATIVE returns that make up
    the tail); the k = ceil(m/20) cut is exact integer arithmetic,
    the order statistic is a deterministic row_number pick
    (tie-broken by day), and ES is a raw exact-BIGINT ratio."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o, money_units("o_totalprice", 100).alias("y")
    ).localCheckpoint(eager=False)
    daily = unit_scaled(daily, "y", 3000, "yk")
    rets = daily.select(
        "d",
        F.expr(
            "CAST(((yk - lag(yk) OVER (ORDER BY d)) * 1000000"
            " + lag(yk) OVER (ORDER BY d) * 2000000)"
            " div lag(yk) OVER (ORDER BY d) - 2000000 AS BIGINT)"
        ).alias("r_ppm"),
    ).filter(F.col("r_ppm").isNotNull())
    ranked = rets.select(
        "r_ppm",
        F.row_number().over(Window.orderBy("r_ppm", "d")).alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    return (
        ranked.withColumn("k", F.expr("(m + 19) div 20"))
        .groupBy("m", "k")
        .agg(
            (-F.max(
                F.when(F.col("rn") == F.col("k"), F.col("r_ppm"))
            ))
            .cast("bigint")
            .alias("var_ppm"),
            F.expr(
                "-(CAST(SUM(CASE WHEN rn <= k THEN r_ppm ELSE 0 END)"
                " AS DOUBLE) / k)"
            ).alias("es_ppm"),
        )
        .select(
            F.col("m").alias("m_days"),
            F.col("k").alias("k_tail"),
            "var_ppm",
            "es_ppm",
        )
    )


@query(
    "a584_walk_centrality",
    oracle=f"""
WITH {_EDGES_SQL},
w1 AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS w FROM edges GROUP BY u
), w2 AS (
  SELECT e.u, CAST(SUM(w1.w) AS BIGINT) AS w
  FROM edges e JOIN w1 ON w1.u = e.v GROUP BY e.u
), w3 AS (
  SELECT e.u, CAST(SUM(w2.w) AS BIGINT) AS w
  FROM edges e JOIN w2 ON w2.u = e.v GROUP BY e.u
), w4 AS (
  SELECT e.u, CAST(SUM(w3.w) AS BIGINT) AS w
  FROM edges e JOIN w3 ON w3.u = e.v GROUP BY e.u
), mx AS (
  SELECT CAST(MAX(w) AS BIGINT) AS mw FROM w4
)
SELECT w4.u, w3.w AS w3, w4.w AS w4,
       CAST(w4.w AS DOUBLE) / mx.mw AS centrality,
       CAST(w4.w AS DOUBLE) / w3.w AS lambda_est
FROM w4 JOIN w3 ON w3.u = w4.u CROSS JOIN mx
ORDER BY w4.w DESC, w4.u
LIMIT 20
""",
    tags=("analytics", "graph"),
)
def a584_walk_centrality(spark, sf_dir):
    """Eigenvector centrality of the co-purchase graph in walk-count
    form: four un-normalized power-iteration steps w_{k+1}(u) =
    Σ_{v∈N(u)} w_k(v) count length-4 walks starting at each node —
    the exact-integer surrogate that converges to the principal
    eigenvector direction without a single float in the loop (q249's
    trick, applied to a graph instead of a gramian). Each step is ONE
    edges⋈weights equi join folded map-side to a node-sized weight
    table (|E| rows touched per step, linear in corpus size — no
    pair-pair blowup); centrality = w4/max(w4) and the Rayleigh-style
    lambda_est = w4/w3 are raw exact-BIGINT ratios; top-20 orders by
    the exact integer w4 with node-id tie-break."""
    edges = _copart_edges(spark, sf_dir)
    w1 = edges.groupBy("u").agg(F.count("*").cast("bigint").alias("w"))
    wk = w1
    for _ in range(3):
        wk = (
            edges.alias("e")
            .join(wk.alias("wk"), F.col("wk.u") == F.col("e.v"))
            .groupBy(F.col("e.u").alias("u"))
            .agg(F.sum("wk.w").cast("bigint").alias("w"))
        )
        if _ == 1:
            w3 = wk.localCheckpoint(eager=False)
            wk = w3
    w4 = wk
    mx = w4.agg(F.max("w").cast("bigint").alias("mw"))
    return (
        w4.alias("w4")
        .join(w3.alias("w3"), F.col("w3.u") == F.col("w4.u"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("w4.u").alias("u"),
            F.col("w3.w").alias("w3"),
            F.col("w4.w").alias("w4"),
            F.expr("CAST(w4.w AS DOUBLE) / mw").alias("centrality"),
            F.expr("CAST(w4.w AS DOUBLE) / w3.w").alias("lambda_est"),
        )
        .orderBy(F.col("w4").desc(), "u")
        .limit(20)
    )


@query(
    "a585_kleinberg_burst",
    oracle=f"""
WITH RECURSIVE daily AS ({_TDAILY_SQL}),
ordered AS (
  SELECT grp, c,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY d) AS BIGINT)
           AS k,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
         CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS s
  FROM daily
), params AS (
  SELECT DISTINCT grp, n,
         CAST(s AS DOUBLE) / n AS lam,
         ln(CAST(s AS DOUBLE) / n) AS lnl0,
         ln(2 * CAST(s AS DOUBLE) / n) AS lnl1,
         ln(CAST(n AS DOUBLE)) AS gam
  FROM ordered
), state AS (
  SELECT grp, CAST(0 AS BIGINT) AS k, n, lam, lnl0, lnl1, gam,
         CAST(0.0 AS DOUBLE) AS v0, CAST(1e18 AS DOUBLE) AS v1,
         CAST(0 AS BIGINT) AS c0, CAST(0 AS BIGINT) AS c1
  FROM params
  UNION ALL
  SELECT s.grp, s.k + 1, s.n, s.lam, s.lnl0, s.lnl1, s.gam,
         (s.lam - o.c * s.lnl0) + LEAST(s.v0, s.v1),
         (2 * s.lam - o.c * s.lnl1) + LEAST(s.v0 + s.gam, s.v1),
         CASE WHEN s.v0 <= s.v1 THEN s.c0 ELSE s.c1 END,
         CASE WHEN s.v0 + s.gam < s.v1 THEN s.c0 ELSE s.c1 END + 1
  FROM state s JOIN ordered o ON o.grp = s.grp AND o.k = s.k + 1
  WHERE s.k < s.n
)
SELECT grp, n AS n_days,
       CAST(s AS DOUBLE) / n AS lam,
       round(LEAST(v0, v1), 6) AS cost_r,
       CAST(CASE WHEN v0 <= v1 THEN c0 ELSE c1 END AS BIGINT)
         AS n_burst_days
FROM state JOIN (SELECT DISTINCT grp AS g2, s FROM ordered) o2
  ON o2.g2 = state.grp
WHERE k = n
ORDER BY grp
""",
    tags=("monitoring", "events"),
)
def a585_kleinberg_burst(spark, sf_dir):
    """Kleinberg two-state burst detection over each event type's
    daily counts: a Viterbi pass on the Poisson-cost automaton (base
    rate lambda vs burst rate 2*lambda, entering a burst costs
    gamma = ln n) that returns the optimal path's total cost AND its
    number of burst days — the principled 'is this spike a regime or
    noise' detector behind trending-topic pipelines. The recurrence
    carries (v0, v1, burst-day count) per state; Spark folds it with
    F.aggregate over the per-type 30-day array while the oracle steps
    the SAME expression text through a recursive CTE (the a360/a563
    recipe — identical IEEE sequence, bit-identical doubles, so even
    the argmin branches agree). The two ln calls run once per type;
    lambda is emitted as a raw exact ratio."""
    daily = _tdaily(spark, sf_dir)
    g = daily.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.expr("transform(array_sort(collect_list(struct(d, c))), x -> x.c)").alias(
            "xs"
        ),
    )
    p = g.select(
        "grp",
        "n",
        "s",
        "xs",
        F.expr("CAST(s AS DOUBLE) / n").alias("lam"),
        F.expr("ln(CAST(s AS DOUBLE) / n)").alias("lnl0"),
        F.expr("ln(2 * CAST(s AS DOUBLE) / n)").alias("lnl1"),
        F.expr("ln(CAST(n AS DOUBLE))").alias("gam"),
    )
    fin = p.select(
        "grp",
        "n",
        "lam",
        F.expr(
            "aggregate(xs,"
            " named_struct('v0', CAST(0.0 AS DOUBLE),"
            "              'v1', CAST(1e18 AS DOUBLE),"
            "              'c0', CAST(0 AS BIGINT),"
            "              'c1', CAST(0 AS BIGINT)),"
            " (acc, c) -> named_struct("
            "   'v0', (lam - c * lnl0) + LEAST(acc.v0, acc.v1),"
            "   'v1', (2 * lam - c * lnl1) + LEAST(acc.v0 + gam, acc.v1),"
            "   'c0', CASE WHEN acc.v0 <= acc.v1 THEN acc.c0 ELSE acc.c1 END,"
            "   'c1', CASE WHEN acc.v0 + gam < acc.v1 THEN acc.c0"
            "         ELSE acc.c1 END + 1L),"
            " acc -> acc)"
        ).alias("st"),
    )
    return fin.select(
        "grp",
        F.col("n").alias("n_days"),
        "lam",
        F.expr("round(LEAST(st.v0, st.v1), 6)").alias("cost_r"),
        F.expr(
            "CAST(CASE WHEN st.v0 <= st.v1 THEN st.c0 ELSE st.c1 END"
            " AS BIGINT)"
        ).alias("n_burst_days"),
    ).orderBy("grp")


@query(
    "a586_hill_tail_index",
    oracle="""
WITH px AS (
  SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS x, o_orderkey
  FROM orders
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, o_orderkey) AS rn
  FROM px
), thr AS (
  SELECT CAST(x AS BIGINT) AS xk1 FROM ranked WHERE rn = 201
), terms AS (
  SELECT r.rn,
         CAST(round(ln(CAST(r.x AS DOUBLE) / t.xk1) * 1e9, 0) AS BIGINT)
           AS l_fp,
         CAST(round(ln(CAST(r.x AS DOUBLE) / t.xk1)
                    * ln(CAST(r.x AS DOUBLE) / t.xk1) * 1e12, 0)
              AS BIGINT) AS l2_fp
  FROM ranked r CROSS JOIN thr t
  WHERE r.rn <= 200
), agg AS (
  SELECT CAST(SUM(l_fp) AS BIGINT) AS s1,
         CAST(SUM(l2_fp) AS BIGINT) AS s2
  FROM terms
)
SELECT (SELECT xk1 FROM thr) AS threshold_cents,
       CAST(200 AS BIGINT) AS k_tail,
       round(CAST(s1 AS DOUBLE) / 200 / 1e9, 6) AS hill_r,
       round(CAST(s1 AS DOUBLE) / 200 / 1e9 + 1
             - CAST(0.5 AS DOUBLE)
               / (1 - (CAST(s1 AS DOUBLE) / 200 / 1e9)
                      * (CAST(s1 AS DOUBLE) / 200 / 1e9)
                      / (CAST(s2 AS DOUBLE) / 200 / 1e12)), 6)
         AS dedh_xi_r
FROM agg
""",
    tags=("inference", "extreme"),
)
def a586_hill_tail_index(spark, sf_dir):
    """Hill tail-index estimator (k = 200 upper order statistics) plus
    the Dekkers–Einmahl–de Haan moment correction for the order-value
    distribution — the POT-family answer to 'how heavy is the spend
    tail' that a147's GPD-PWM fit cross-checks: Hill assumes xi > 0,
    DEdH extends to the whole real line. The tail panel is a FIXED
    200-row order-statistic slice (deterministic price-then-key
    ranking, constant work at any corpus scale); each log-spacing term
    is evaluated on identical exact cent integers and fixed-pointed
    (nano for the linear sum, pico for the squared sum — the a235
    per-term recipe, and 200 bounded terms keep both sums far inside
    int64), so the cross-row sums are exact BIGINTs feeding two
    terminal round(x, 6) readouts."""
    o = table(spark, sf_dir, "orders")
    px = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)").alias("x"),
        "o_orderkey",
    )
    ranked = px.select(
        "x",
        F.row_number()
        .over(Window.orderBy(F.col("x").desc(), "o_orderkey"))
        .alias("rn"),
    ).filter(F.col("rn") <= 201).localCheckpoint(eager=False)
    thr = ranked.filter(F.col("rn") == 201).select(
        F.col("x").cast("bigint").alias("xk1")
    )
    terms = (
        ranked.filter(F.col("rn") <= 200)
        .crossJoin(F.broadcast(thr))
        .select(
            F.expr(
                "CAST(round(ln(CAST(x AS DOUBLE) / xk1) * 1e9, 0) AS BIGINT)"
            ).alias("l_fp"),
            F.expr(
                "CAST(round(ln(CAST(x AS DOUBLE) / xk1)"
                " * ln(CAST(x AS DOUBLE) / xk1) * 1e12, 0) AS BIGINT)"
            ).alias("l2_fp"),
        )
    )
    agg = terms.agg(
        F.sum("l_fp").cast("bigint").alias("s1"),
        F.sum("l2_fp").cast("bigint").alias("s2"),
    )
    return agg.crossJoin(F.broadcast(thr)).select(
        F.col("xk1").alias("threshold_cents"),
        F.lit(200).cast("bigint").alias("k_tail"),
        F.expr("round(CAST(s1 AS DOUBLE) / 200 / 1e9, 6)").alias("hill_r"),
        F.expr(
            "round(CAST(s1 AS DOUBLE) / 200 / 1e9 + 1"
            " - CAST(0.5 AS DOUBLE)"
            " / (1 - (CAST(s1 AS DOUBLE) / 200 / 1e9)"
            " * (CAST(s1 AS DOUBLE) / 200 / 1e9)"
            " / (CAST(s2 AS DOUBLE) / 200 / 1e12)), 6)"
        ).alias("dedh_xi_r"),
    )


@query(
    "a587_motif_discord",
    oracle=f"""
WITH daily AS ({_TDAILY_SQL}),
ser AS (
  SELECT grp, c,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY d) AS BIGINT)
           AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM daily
), sub AS (
  SELECT s.grp, s.rn AS strt, e.rn - s.rn AS o, e.c AS val
  FROM ser s JOIN ser e
    ON e.grp = s.grp AND e.rn - s.rn BETWEEN 0 AND 6
  WHERE s.rn <= s.n - 6
), d2 AS (
  SELECT a.grp, a.strt AS i, b.strt AS j,
         CAST(SUM((a.val - b.val) * (a.val - b.val)) AS BIGINT) AS d2
  FROM sub a JOIN sub b
    ON b.grp = a.grp AND b.o = a.o AND b.strt >= a.strt + 7
  GROUP BY a.grp, a.strt, b.strt
), motif AS (
  SELECT grp, i, j, d2,
         row_number() OVER (PARTITION BY grp ORDER BY d2, i, j) AS mr
  FROM d2
), nn AS (
  SELECT grp, i, CAST(MIN(d2) AS BIGINT) AS nn_d2
  FROM (
    SELECT grp, i, d2 FROM d2
    UNION ALL
    SELECT grp, j AS i, d2 FROM d2
  ) GROUP BY grp, i
), discord AS (
  SELECT grp, i, nn_d2,
         row_number() OVER (PARTITION BY grp ORDER BY nn_d2 DESC, i) AS dr
  FROM nn
)
SELECT m.grp, m.i AS motif_i, m.j AS motif_j, m.d2 AS motif_d2,
       d.i AS discord_i, d.nn_d2 AS discord_d2
FROM motif m JOIN discord d ON d.grp = m.grp AND d.dr = 1
WHERE m.mr = 1
ORDER BY m.grp
""",
    tags=("monitoring", "signal"),
)
def a587_motif_discord(spark, sf_dir):
    """Matrix-profile-style motif and discord discovery on each event
    type's daily count series (subsequence length m=7, exact squared
    Euclidean, trivial matches excluded by a full-m gap): the motif is
    the closest pair of week-shaped subsequences (recurring regime),
    the discord is the subsequence whose nearest neighbor is farthest
    (the anomalous week) — the two primitives the MP literature builds
    everything else from. All distances are exact BIGINTs (integer
    counts, bounded 7-term sums); the subsequence table is a
    calendar-bounded band self-join (24 starts x 7 offsets per type at
    every corpus scale) and both argmins are deterministic
    row_number picks with (d2, i, j) tie-breaks."""
    daily = _tdaily(spark, sf_dir)
    w = Window.partitionBy("grp").orderBy("d")
    wall = Window.partitionBy("grp")
    ser = daily.select(
        "grp",
        "c",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    s, e = ser.alias("s"), ser.alias("e")
    sub = (
        s.join(
            e,
            (F.col("e.grp") == F.col("s.grp"))
            & (F.col("e.rn") - F.col("s.rn") >= 0)
            & (F.col("e.rn") - F.col("s.rn") <= 6),
        )
        .filter(F.col("s.rn") <= F.col("s.n") - 6)
        .select(
            F.col("s.grp").alias("grp"),
            F.col("s.rn").alias("strt"),
            (F.col("e.rn") - F.col("s.rn")).alias("o"),
            F.col("e.c").alias("val"),
        )
    )
    a, b = sub.alias("a"), sub.alias("b")
    d2 = (
        a.join(
            b,
            (F.col("b.grp") == F.col("a.grp"))
            & (F.col("b.o") == F.col("a.o"))
            & (F.col("b.strt") >= F.col("a.strt") + 7),
        )
        .groupBy(
            F.col("a.grp").alias("grp"),
            F.col("a.strt").alias("i"),
            F.col("b.strt").alias("j"),
        )
        .agg(
            F.sum(
                (F.col("a.val") - F.col("b.val"))
                * (F.col("a.val") - F.col("b.val"))
            )
            .cast("bigint")
            .alias("d2")
        )
        .localCheckpoint(eager=False)
    )
    motif = d2.withColumn(
        "mr",
        F.row_number().over(
            Window.partitionBy("grp").orderBy("d2", "i", "j")
        ),
    ).filter(F.col("mr") == 1)
    nn = (
        d2.select("grp", "i", "d2")
        .unionAll(d2.select("grp", F.col("j").alias("i"), "d2"))
        .groupBy("grp", "i")
        .agg(F.min("d2").cast("bigint").alias("nn_d2"))
    )
    discord = nn.withColumn(
        "dr",
        F.row_number().over(
            Window.partitionBy("grp").orderBy(F.col("nn_d2").desc(), "i")
        ),
    ).filter(F.col("dr") == 1)
    return (
        motif.alias("m")
        .join(discord.alias("d"), "grp")
        .select(
            "grp",
            F.col("m.i").alias("motif_i"),
            F.col("m.j").alias("motif_j"),
            F.col("m.d2").alias("motif_d2"),
            F.col("d.i").alias("discord_i"),
            F.col("d.nn_d2").alias("discord_d2"),
        )
        .orderBy("grp")
    )


@query(
    "a588_mediation_sobel",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS m,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sm,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(m * m) AS BIGINT) AS smm,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * m) AS BIGINT) AS sxm,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(m * y) AS BIGINT) AS smy
  FROM u
), cen AS (
  SELECT n,
         CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
         CAST(n * smm - sm * sm AS DOUBLE) AS cmm,
         CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
         CAST(n * sxm - sx * sm AS DOUBLE) AS cxm,
         CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
         CAST(n * smy - sm * sy AS DOUBLE) AS cmy
  FROM mom
), fits AS (
  SELECT n, cxx, cmm, cyy, cxm, cxy, cmy,
         cxm / cxx AS a_hat,
         (cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm) AS b_hat,
         (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm) AS bx_hat,
         ((cmm - cxm * cxm / cxx) / n) / (n - 2) / (cxx / n) AS var_a,
         (((cyy - ((cmm * cxy - cxm * cmy)
                   / (cxx * cmm - cxm * cxm)) * cxy
                - ((cxx * cmy - cxm * cxy)
                   / (cxx * cmm - cxm * cxm)) * cmy) / n) / (n - 3))
           * (cxx / n) / ((cxx * cmm - cxm * cxm) / (n * CAST(n AS DOUBLE)))
           AS var_b
  FROM cen
)
SELECT n AS n_users,
       round(a_hat, 6) AS a_r,
       round(b_hat, 6) AS b_r,
       round(bx_hat, 6) AS direct_r,
       round(a_hat * b_hat, 6) AS ab_r,
       round(a_hat * b_hat
             / sqrt(a_hat * a_hat * var_b + b_hat * b_hat * var_a), 6)
         AS sobel_z_r
FROM fits
""",
    tags=("inference", "causal"),
)
def a588_mediation_sobel(spark, sf_dir):
    """Baron–Kenny mediation with the Sobel test on the per-user
    engagement funnel (views -> clicks -> purchases): path a from the
    m~x regression, path b (and the direct effect) from the y~x+m
    two-predictor solve, indirect effect a·b, and Sobel's
    z = ab/sqrt(a²·var_b + b²·var_a) — the canonical 'does the
    mediator carry the effect' decomposition. One map-side per-user
    fold to 10 exact BIGINT moments; every centered cross-product is
    cast to DOUBLE BEFORE the products that would overflow int64 at
    the 10x gate (the a576/a038 lesson), the normal-equation solve and
    both residual variances are closed-form expressions with identical
    text in both engines, and the single sqrt feeds the terminal
    round(x, 6)."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("m"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    mom = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("smm"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("m")).cast("bigint").alias("sxm"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("m") * F.col("y")).cast("bigint").alias("smy"),
    )
    cen = mom.select(
        "n",
        F.expr("CAST(n * sxx - sx * sx AS DOUBLE)").alias("cxx"),
        F.expr("CAST(n * smm - sm * sm AS DOUBLE)").alias("cmm"),
        F.expr("CAST(n * syy - sy * sy AS DOUBLE)").alias("cyy"),
        F.expr("CAST(n * sxm - sx * sm AS DOUBLE)").alias("cxm"),
        F.expr("CAST(n * sxy - sx * sy AS DOUBLE)").alias("cxy"),
        F.expr("CAST(n * smy - sm * sy AS DOUBLE)").alias("cmy"),
    )
    fits = cen.select(
        "n",
        "cyy",
        "cxy",
        "cmy",
        F.expr("cxm / cxx").alias("a_hat"),
        F.expr(
            "(cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)"
        ).alias("b_hat"),
        F.expr(
            "(cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)"
        ).alias("bx_hat"),
        F.expr(
            "((cmm - cxm * cxm / cxx) / n) / (n - 2) / (cxx / n)"
        ).alias("var_a"),
        F.expr(
            "(((cyy - ((cmm * cxy - cxm * cmy)"
            " / (cxx * cmm - cxm * cxm)) * cxy"
            " - ((cxx * cmy - cxm * cxy)"
            " / (cxx * cmm - cxm * cxm)) * cmy) / n) / (n - 3))"
            " * (cxx / n) / ((cxx * cmm - cxm * cxm)"
            " / (n * CAST(n AS DOUBLE)))"
        ).alias("var_b"),
    )
    return fits.select(
        F.col("n").alias("n_users"),
        F.round(F.col("a_hat"), 6).alias("a_r"),
        F.round(F.col("b_hat"), 6).alias("b_r"),
        F.round(F.col("bx_hat"), 6).alias("direct_r"),
        F.round(F.col("a_hat") * F.col("b_hat"), 6).alias("ab_r"),
        F.expr(
            "round(a_hat * b_hat"
            " / sqrt(a_hat * a_hat * var_b + b_hat * b_hat * var_a), 6)"
        ).alias("sobel_z_r"),
    )


@query(
    "a589_scheffe_contrast",
    oracle="""
WITH g AS (
  SELECT event_type AS grp,
         CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS sg,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  * CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS ssg
  FROM events GROUP BY grp
), piv AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n_total,
         MAX(CASE WHEN grp = 'purchase' THEN ng END) AS n_p,
         MAX(CASE WHEN grp = 'purchase' THEN sg END) AS s_p,
         MAX(CASE WHEN grp = 'signup' THEN ng END) AS n_s,
         MAX(CASE WHEN grp = 'signup' THEN sg END) AS s_s,
         MAX(CASE WHEN grp = 'click' THEN ng END) AS n_c,
         MAX(CASE WHEN grp = 'click' THEN sg END) AS s_c,
         MAX(CASE WHEN grp = 'view' THEN ng END) AS n_v,
         MAX(CASE WHEN grp = 'view' THEN sg END) AS s_v,
         MAX(CASE WHEN grp = 'error' THEN ng END) AS n_e,
         MAX(CASE WHEN grp = 'error' THEN sg END) AS s_e,
         MAX(CASE WHEN grp = 'purchase' THEN ssg END) AS q_p,
         MAX(CASE WHEN grp = 'signup' THEN ssg END) AS q_s,
         MAX(CASE WHEN grp = 'click' THEN ssg END) AS q_c,
         MAX(CASE WHEN grp = 'view' THEN ssg END) AS q_v,
         MAX(CASE WHEN grp = 'error' THEN ssg END) AS q_e
  FROM g
), calc AS (
  SELECT n_total,
         (3 * (CAST(s_p AS DOUBLE) / n_p) + 3 * (CAST(s_s AS DOUBLE) / n_s)
          - 2 * (CAST(s_c AS DOUBLE) / n_c) - 2 * (CAST(s_v AS DOUBLE) / n_v)
          - 2 * (CAST(s_e AS DOUBLE) / n_e)) / 6 / 100 AS c_hat,
         ((CAST(q_p AS DOUBLE) - CAST(s_p AS DOUBLE) * s_p / n_p)
          + (CAST(q_s AS DOUBLE) - CAST(s_s AS DOUBLE) * s_s / n_s)
          + (CAST(q_c AS DOUBLE) - CAST(s_c AS DOUBLE) * s_c / n_c)
          + (CAST(q_v AS DOUBLE) - CAST(s_v AS DOUBLE) * s_v / n_v)
          + (CAST(q_e AS DOUBLE) - CAST(s_e AS DOUBLE) * s_e / n_e))
          / (n_total - 5) / 10000 AS mse,
         (CAST(9 AS DOUBLE) / n_p + CAST(9 AS DOUBLE) / n_s
          + CAST(4 AS DOUBLE) / n_c + CAST(4 AS DOUBLE) / n_v
          + CAST(4 AS DOUBLE) / n_e) / 36 AS wsum
  FROM piv
)
SELECT n_total,
       round(c_hat, 6) AS c_hat_r,
       round(sqrt(mse * wsum), 6) AS se_r,
       round(c_hat * c_hat / (4 * mse * wsum), 6) AS scheffe_f_r
FROM calc
""",
    tags=("inference", "anova"),
)
def a589_scheffe_contrast(spark, sf_dir):
    """Scheffé simultaneous contrast on per-type event values:
    transactional types (purchase, signup) vs engagement types (click,
    view, error), weights (3,3,-2,-2,-2)/6 — the post-hoc contrast
    whose F-scaled statistic C²/((k−1)·SE²) is valid for ANY contrast
    chosen after looking at the data, the guarantee Tukey HSD (a432)
    does not give for complex weightings. One map-side fold to exact
    cent moments per type; the within-group MSE and the contrast are
    literal 5-term expressions over the pivoted scalars (fixed IEEE
    order both engines, cast-before-square residual SS), and the
    single sqrt feeds the terminal round(x, 6)."""
    ev = table(spark, sf_dir, "events")
    vfp = F.expr("CAST(ROUND(value * 100.0, 0) AS BIGINT)")
    g = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum(vfp).cast("bigint").alias("sg"),
        F.sum(vfp * vfp).cast("bigint").alias("ssg"),
    )
    piv = g.agg(
        F.sum("ng").cast("bigint").alias("n_total"),
        F.max(F.when(F.col("grp") == "purchase", F.col("ng"))).alias("n_p"),
        F.max(F.when(F.col("grp") == "purchase", F.col("sg"))).alias("s_p"),
        F.max(F.when(F.col("grp") == "signup", F.col("ng"))).alias("n_s"),
        F.max(F.when(F.col("grp") == "signup", F.col("sg"))).alias("s_s"),
        F.max(F.when(F.col("grp") == "click", F.col("ng"))).alias("n_c"),
        F.max(F.when(F.col("grp") == "click", F.col("sg"))).alias("s_c"),
        F.max(F.when(F.col("grp") == "view", F.col("ng"))).alias("n_v"),
        F.max(F.when(F.col("grp") == "view", F.col("sg"))).alias("s_v"),
        F.max(F.when(F.col("grp") == "error", F.col("ng"))).alias("n_e"),
        F.max(F.when(F.col("grp") == "error", F.col("sg"))).alias("s_e"),
        F.max(F.when(F.col("grp") == "purchase", F.col("ssg"))).alias("q_p"),
        F.max(F.when(F.col("grp") == "signup", F.col("ssg"))).alias("q_s"),
        F.max(F.when(F.col("grp") == "click", F.col("ssg"))).alias("q_c"),
        F.max(F.when(F.col("grp") == "view", F.col("ssg"))).alias("q_v"),
        F.max(F.when(F.col("grp") == "error", F.col("ssg"))).alias("q_e"),
    )
    calc = piv.select(
        "n_total",
        F.expr(
            "(3 * (CAST(s_p AS DOUBLE) / n_p)"
            " + 3 * (CAST(s_s AS DOUBLE) / n_s)"
            " - 2 * (CAST(s_c AS DOUBLE) / n_c)"
            " - 2 * (CAST(s_v AS DOUBLE) / n_v)"
            " - 2 * (CAST(s_e AS DOUBLE) / n_e)) / 6 / 100"
        ).alias("c_hat"),
        F.expr(
            "((CAST(q_p AS DOUBLE) - CAST(s_p AS DOUBLE) * s_p / n_p)"
            " + (CAST(q_s AS DOUBLE) - CAST(s_s AS DOUBLE) * s_s / n_s)"
            " + (CAST(q_c AS DOUBLE) - CAST(s_c AS DOUBLE) * s_c / n_c)"
            " + (CAST(q_v AS DOUBLE) - CAST(s_v AS DOUBLE) * s_v / n_v)"
            " + (CAST(q_e AS DOUBLE) - CAST(s_e AS DOUBLE) * s_e / n_e))"
            " / (n_total - 5) / 10000"
        ).alias("mse"),
        F.expr(
            "(CAST(9 AS DOUBLE) / n_p + CAST(9 AS DOUBLE) / n_s"
            " + CAST(4 AS DOUBLE) / n_c + CAST(4 AS DOUBLE) / n_v"
            " + CAST(4 AS DOUBLE) / n_e) / 36"
        ).alias("wsum"),
    )
    return calc.select(
        "n_total",
        F.round(F.col("c_hat"), 6).alias("c_hat_r"),
        F.expr("round(sqrt(mse * wsum), 6)").alias("se_r"),
        F.expr("round(c_hat * c_hat / (4 * mse * wsum), 6)").alias(
            "scheffe_f_r"
        ),
    )


# a590: shared IRLS expression text (identical in the oracle CTEs and
# the Spark selectExpr stages — the a360/a585 bit-identical recipe).
_A590_MU = "exp(b0 + b1 * t)"
_A590_TERMS = (
    f"CAST(round({_A590_MU} * 1e6, 0) AS BIGINT) AS w_fp",
    f"CAST(round({_A590_MU} * t * 1e6, 0) AS BIGINT) AS wt_fp",
    f"CAST(round({_A590_MU} * t * t * 1e6, 0) AS BIGINT) AS wt2_fp",
    f"CAST(round(({_A590_MU} * (b0 + b1 * t) + (c - {_A590_MU}))"
    " * 1e6, 0) AS BIGINT) AS wz_fp",
    f"CAST(round(({_A590_MU} * (b0 + b1 * t) + (c - {_A590_MU}))"
    " * t * 1e6, 0) AS BIGINT) AS wzt_fp",
)
_A590_B1 = (
    "(CAST(sw AS DOUBLE) * swzt - CAST(swt AS DOUBLE) * swz)"
    " / (CAST(sw AS DOUBLE) * swt2 - CAST(swt AS DOUBLE) * swt)"
)
_A590_B0 = f"(CAST(swz AS DOUBLE) - ({_A590_B1}) * swt) / sw"
_A590_DEV = (
    f"CAST(round((c * ln(c / {_A590_MU}) - (c - {_A590_MU}))"
    " * 1e6, 0) AS BIGINT)"
)


def _a590_step_sql(prev: str) -> str:
    terms = ",\n             ".join(_A590_TERMS)
    return f"""
  SELECT n, s, {_A590_B0} AS b0, {_A590_B1} AS b1
  FROM (
    SELECT MAX(n) AS n, MAX(s) AS s,
           CAST(SUM(w_fp) AS BIGINT) AS sw,
           CAST(SUM(wt_fp) AS BIGINT) AS swt,
           CAST(SUM(wt2_fp) AS BIGINT) AS swt2,
           CAST(SUM(wz_fp) AS BIGINT) AS swz,
           CAST(SUM(wzt_fp) AS BIGINT) AS swzt
    FROM (
      SELECT p.n, p.s, d.t, d.c, p.b0, p.b1,
             {terms}
      FROM day d CROSS JOIN {prev} p
    )
  )
"""


@query(
    "a590_poisson_trend_irls",
    oracle=f"""
WITH day AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, c
  FROM (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
  )
), base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
  FROM day
), it0 AS (
  SELECT n, s, ln(CAST(s AS DOUBLE) / n) AS b0, CAST(0.0 AS DOUBLE) AS b1
  FROM base
), it1 AS MATERIALIZED ({_a590_step_sql("it0")}
), it2 AS MATERIALIZED ({_a590_step_sql("it1")}
), it3 AS MATERIALIZED ({_a590_step_sql("it2")}
), dev AS (
  SELECT MAX(p.n) AS n, MAX(p.b0) AS b0, MAX(p.b1) AS b1,
         CAST(SUM({_A590_DEV}) AS BIGINT) AS sdev
  FROM (SELECT d.t, d.c, p3.n, p3.b0, p3.b1
        FROM day d CROSS JOIN it3 p3) AS p(t, c, n, b0, b1)
)
SELECT n AS n_days,
       round(b0, 6) AS b0_r,
       round(b1, 6) AS b1_r,
       round(exp(b1) - 1, 6) AS daily_growth_r,
       2 * sdev AS dev_micro
FROM dev
""",
    tags=("inference", "glm"),
)
def a590_poisson_trend_irls(spark, sf_dir):
    """Poisson log-link trend regression of the total daily event
    count on time, fit by three unrolled IRLS steps — the GLM answer
    to 'is volume growing exponentially' whose multiplicative
    daily_growth = exp(b1)−1 readout is the number capacity planning
    actually wants (OLS on counts misreads the variance structure).
    The working-weight sums of every step are per-term micro
    fixed-pointed exact BIGINTs over the calendar-bounded day panel
    (the a235 recipe — term count never grows with corpus size), the
    beta updates are closed-form expressions with IDENTICAL text in
    the Spark stages and the oracle's MATERIALIZED CTE chain (the
    a360/a585 bit-identical-doubles recipe), and the deviance is an
    exact micro-unit BIGINT."""
    ev = table(spark, sf_dir, "events")
    day = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
            "c",
        )
        .localCheckpoint(eager=False)
    )
    prev = day.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    ).selectExpr(
        "n", "s", "ln(CAST(s AS DOUBLE) / n) AS b0", "CAST(0.0 AS DOUBLE) AS b1"
    )
    for _ in range(3):
        terms = day.crossJoin(F.broadcast(prev)).selectExpr(
            "n", "s", "t", "c", "b0", "b1", *_A590_TERMS
        )
        sums = terms.agg(
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.sum("w_fp").cast("bigint").alias("sw"),
            F.sum("wt_fp").cast("bigint").alias("swt"),
            F.sum("wt2_fp").cast("bigint").alias("swt2"),
            F.sum("wz_fp").cast("bigint").alias("swz"),
            F.sum("wzt_fp").cast("bigint").alias("swzt"),
        )
        prev = sums.selectExpr(
            "n", "s", f"{_A590_B0} AS b0", f"{_A590_B1} AS b1"
        )
    dev = (
        day.crossJoin(F.broadcast(prev))
        .selectExpr("n", "b0", "b1", "t", "c", f"{_A590_DEV} AS d_fp")
        .agg(
            F.max("n").alias("n"),
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
            F.sum("d_fp").cast("bigint").alias("sdev"),
        )
    )
    return dev.selectExpr(
        "n AS n_days",
        "round(b0, 6) AS b0_r",
        "round(b1, 6) AS b1_r",
        "round(exp(b1) - 1, 6) AS daily_growth_r",
        "2 * sdev AS dev_micro",
    )
