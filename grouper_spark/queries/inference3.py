"""Round-8 battery (a146–a170): forecast evaluation, extreme-value
tails, robust filtering, allocation/planning, ranking metrics, and
exact rank tests the earlier batteries did not cover.

Queued for future driver-sampler windows (aNNN past a053 sort outside
the round-8 first-50 window; see queries/aliases.py). Shared design
rules (the monitoring.py discipline): ONE map-side-combined aggregate
folds the corpus to a keyed summary; every cross-row sum is an exact
BIGINT (fixed-point where the source is a double); transcendentals run
once per group/bin/scalar on identical exact inputs and feed a terminal
``round(x, 6)``; rank statistics come from value histograms +
cumulative windows, never pairwise self-joins of the corpus.

Reference parity target: junegunn/grouper exposes no statistics
surface (src/grouper/core.clj is a 155-line micro-batching utility);
these extend the engine's analytics coverage for pipeline monitoring
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import md5_bits, money, money_units
from ..sources import table
from ._series import daily_orders, trend_fit
from . import query
from ..operators.core import literal_frame

# Daily order revenue in whole dollars — exact BIGINT (cents summed
# exactly, then integer-divided). Shared by the forecast/filter ops.
_DAILY_SQL = """
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS x
  FROM orders GROUP BY 1
"""


@query(
    "a146_diebold_mariano",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
lagged AS (
  SELECT d, x,
         LAG(x, 1) OVER (ORDER BY d) AS f_naive,
         LAG(x, 7) OVER (ORDER BY d) AS f_snaive
  FROM daily
), loss AS (
  SELECT CAST(ABS(x - f_naive) - ABS(x - f_snaive) AS BIGINT) AS dt
  FROM lagged WHERE f_snaive IS NOT NULL
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dt) AS BIGINT) AS s1,
         CAST(SUM(dt * dt) AS BIGINT) AS s2
  FROM loss
)
SELECT n,
       round(CAST(s1 AS DOUBLE) / n, 6) AS mean_loss_diff_r,
       round((CAST(s1 AS DOUBLE) / n)
             / SQRT((CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                    / n), 6) AS dm_stat_r
FROM m
""",
)
def a146_diebold_mariano(spark, sf_dir):
    """Diebold–Mariano equal-predictive-accuracy test comparing the
    naive (lag-1) and seasonal-naive (lag-7) one-step forecasts of
    daily order revenue under ABSOLUTE-error loss. Absolute loss keeps
    the loss differential d_t and its square exact BIGINTs (|d_t| ≤
    max daily dollars ~3e6, Σd² ≤ 2e16 at sf1 — squared-error loss
    would overflow at Σe⁴ scale); the h=1 DM denominator uses the
    lag-0 variance of d_t from those exact sums, sqrt once on the
    final scalar. At 100 TB: one orders shuffle on the date key, two
    LAGs over the ~2.4k-row daily series, one scalar readout."""
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 100).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    w = Window.orderBy("d")
    lagged = daily.select(
        "x",
        F.lag("x", 1).over(w).alias("f_naive"),
        F.lag("x", 7).over(w).alias("f_snaive"),
    ).filter(F.col("f_snaive").isNotNull())
    loss = lagged.select(
        (
            F.abs(F.col("x") - F.col("f_naive"))
            - F.abs(F.col("x") - F.col("f_snaive"))
        )
        .cast("bigint")
        .alias("dt")
    )
    m = loss.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dt").cast("bigint").alias("s1"),
        F.sum(F.col("dt") * F.col("dt")).cast("bigint").alias("s2"),
    )
    nD = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nD
    var = F.col("s2").cast("double") / nD - mean * mean
    return m.select(
        "n",
        F.round(mean, 6).alias("mean_loss_diff_r"),
        F.round(mean / F.sqrt(var / nD), 6).alias("dm_stat_r"),
    )


@query(
    "a147_gpd_pwm_tail",
    oracle="""
WITH t AS (
  SELECT CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 100
              AS BIGINT) AS x
  FROM orders
), n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
thr AS (
  SELECT x AS u FROM (
    SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM t
  ) s CROSS JOIN n_all
  WHERE rn = CAST(CEIL(0.9 * n) AS BIGINT)
), exc AS (
  SELECT CAST(t.x - thr.u AS BIGINT) AS y,
         ROW_NUMBER() OVER (ORDER BY t.x) AS i
  FROM t CROSS JOIN thr WHERE t.x > thr.u
), pwm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(y) AS BIGINT) AS s0,
         CAST(SUM((k2.k - i) * y) AS BIGINT) AS s1,
         MAX(u) AS u
  FROM exc CROSS JOIN thr
  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM exc) k2
), b AS (
  SELECT k, u,
         CAST(s0 AS DOUBLE) / k AS a0,
         CAST(s1 AS DOUBLE) / (CAST(k AS DOUBLE) * (k - 1)) AS a1
  FROM pwm
)
SELECT k AS n_exceedances, u AS threshold_dollars,
       round(a0, 6) AS mean_excess_r,
       round(2.0 - a0 / (a0 - 2.0 * a1), 6) AS gpd_xi_r,
       round(2.0 * a0 * a1 / (a0 - 2.0 * a1), 6) AS gpd_sigma_r
FROM b
""",
)
def a147_gpd_pwm_tail(spark, sf_dir):
    """Generalized-Pareto tail fit by probability-weighted moments
    (Hosking & Wallis 1987) on order-total exceedances over the exact
    P90 threshold (order statistic at ceil(0.9n), deterministic under
    ties). a0 = mean excess and a1 = Σ(k−i)y_(i)/(k(k−1)) — the
    DESCENDING-weight PWM a1 = E[Y(1−F)], the one the GPD closed form
    needs (the ascending b1 variant flips σ's sign; caught by the
    property suite) — come from exact BIGINT sums, tie-order invariant
    because tied y are equal; ξ = 2 − a0/(a0−2a1), σ = 2a0a1/(a0−2a1)
    are two scalar readouts. Dollars (not cents) keep Σ(i−1)y under 1e16 at
    sf1 (100× headroom to BIGINT). At 100 TB: one pass for the
    histogram-rank threshold, one windowed rank over the tail only."""
    t = table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) div 100"
            " AS BIGINT)"
        ).alias("x")
    ).localCheckpoint(eager=False)
    n_all = t.agg(F.count("*").cast("bigint").alias("n"))
    ranked = t.select(
        "x", F.row_number().over(Window.orderBy("x")).alias("rn")
    )
    thr = (
        ranked.crossJoin(F.broadcast(n_all))
        .filter(F.col("rn") == F.ceil(0.9 * F.col("n")).cast("bigint"))
        .select(F.col("x").alias("u"))
    )
    exc = (
        t.crossJoin(F.broadcast(thr))
        .filter(F.col("x") > F.col("u"))
        .select(
            (F.col("x") - F.col("u")).cast("bigint").alias("y"),
            F.row_number().over(Window.orderBy("x")).alias("i"),
            "u",
        )
    )
    kcnt = exc.agg(F.count("*").cast("bigint").alias("kk"))
    pwm = exc.crossJoin(F.broadcast(kcnt)).agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("y").cast("bigint").alias("s0"),
        F.sum((F.col("kk") - F.col("i")) * F.col("y"))
        .cast("bigint")
        .alias("s1"),
        F.max("u").alias("u"),
    )
    kD = F.col("k").cast("double")
    a0 = F.col("s0").cast("double") / kD
    a1 = F.col("s1").cast("double") / (kD * (F.col("k") - 1))
    return pwm.select(
        F.col("k").alias("n_exceedances"),
        F.col("u").alias("threshold_dollars"),
        F.round(a0, 6).alias("mean_excess_r"),
        F.round(2.0 - a0 / (a0 - 2.0 * a1), 6).alias("gpd_xi_r"),
        F.round(2.0 * a0 * a1 / (a0 - 2.0 * a1), 6).alias("gpd_sigma_r"),
    )


@query(
    "a148_hampel_filter",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
win AS (
  SELECT d, x,
         list_sort(list(x) OVER (ORDER BY d
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr,
         COUNT(*) OVER (ORDER BY d
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
  FROM daily
), med AS (
  SELECT d, x, arr, arr[4] AS m FROM win WHERE w = 7
), mad AS (
  SELECT d, x, m,
         list_sort(list_transform(arr, z -> ABS(z - m)))[4] AS s
  FROM med
), flag AS (
  SELECT d, x, m, s,
         CASE WHEN ABS(x - m) * 10000 > 44478 * s THEN 1 ELSE 0 END AS f
  FROM mad
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(f) AS BIGINT) AS n_flagged,
       MIN(CASE WHEN f = 1 THEN d END) AS first_flag_date,
       MAX(CASE WHEN f = 1 THEN d END) AS last_flag_date,
       CAST(MAX(CASE WHEN f = 1 THEN ABS(x - m) END) AS BIGINT)
         AS max_flag_dev_dollars
FROM flag
""",
)
def a148_hampel_filter(spark, sf_dir):
    """Hampel outlier filter on daily order revenue: a day is flagged
    when its deviation from the centered 7-day rolling MEDIAN exceeds
    3·1.4826·(rolling MAD). Both rolling medians are EXACT — the 7-day
    frame is collected to a sorted array and indexed (element 4 of 7),
    and the decision |x−m|·10000 > 44478·s is pure integer arithmetic
    (3·1.4826 = 4.4478), so no float compare can flake. Edge days with
    fewer than 7 neighbors are excluded. At 100 TB: one orders shuffle
    to the daily key, then O(days)·7 window work — the frame is a
    constant 7 elements regardless of corpus scale."""
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 100).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    win = daily.select(
        "d",
        "x",
        F.sort_array(F.collect_list("x").over(w7)).alias("arr"),
        F.count("*").over(w7).alias("w"),
    ).filter(F.col("w") == 7)
    med = win.select(
        "d", "x", "arr", F.element_at("arr", 4).alias("m")
    )
    mad = med.select(
        "d",
        "x",
        "m",
        F.element_at(
            F.sort_array(
                F.transform("arr", lambda v: F.abs(v - F.col("m")))
            ),
            4,
        ).alias("s"),
    )
    flag = mad.select(
        "d",
        "x",
        "m",
        (
            F.abs(F.col("x") - F.col("m")) * 10000 > 44478 * F.col("s")
        ).cast("int").alias("f"),
    )
    return flag.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("f").cast("bigint").alias("n_flagged"),
        F.min(F.when(F.col("f") == 1, F.col("d"))).alias("first_flag_date"),
        F.max(F.when(F.col("f") == 1, F.col("d"))).alias("last_flag_date"),
        F.max(F.when(F.col("f") == 1, F.abs(F.col("x") - F.col("m"))))
        .cast("bigint")
        .alias("max_flag_dev_dollars"),
    )


@query(
    "a149_boxcox_grid",
    oracle="""
WITH t AS (
  SELECT CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 100
              AS BIGINT) AS x
  FROM orders
), binned AS (
  -- $100-wide bins; midpoint in exact $50 units: m = 2*bin + 1
  SELECT CAST(2 * LEAST(x // 100, 1999) + 1 AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM t GROUP BY 1
), lam AS (
  SELECT CAST(lambda AS DOUBLE) AS lambda
  FROM (VALUES (-1.0), (0.0), (0.5), (1.0)) AS l(lambda)
), tr AS (
  SELECT l.lambda, b.m, b.w,
         CASE WHEN l.lambda = -1.0
                THEN CAST(ROUND((1.0 - 1.0 / m) * 100000000.0, 0) AS BIGINT)
              WHEN l.lambda = 0.0
                THEN CAST(ROUND(LN(CAST(m AS DOUBLE)) * 100000000.0, 0)
                          AS BIGINT)
              WHEN l.lambda = 0.5
                THEN CAST(ROUND(2.0 * (SQRT(CAST(m AS DOUBLE)) - 1.0)
                                * 100000000.0, 0) AS BIGINT)
              ELSE CAST((m - 1) * 100000000 AS BIGINT) END AS q,
         CAST(ROUND(LN(CAST(m AS DOUBLE)) * 100000000.0, 0) AS BIGINT)
           AS lnm_q
  FROM lam l CROSS JOIN binned b
), s AS (
  SELECT lambda,
         CAST(SUM(w) AS BIGINT) AS n,
         CAST(SUM(w * (q // 1000000)) AS BIGINT) AS s1,
         CAST(SUM(w * ((q // 1000000) * (q // 1000000))) AS BIGINT) AS s2,
         CAST(SUM(w * lnm_q) AS BIGINT) AS slnm
  FROM tr GROUP BY lambda
), ll AS (
  SELECT lambda, n,
         round(-0.5 * n * LN((CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / 10000.0)
               + (lambda - 1.0) * (CAST(slnm AS DOUBLE) / 100000000.0),
               6) AS loglik_r
  FROM s
)
SELECT lambda, n, loglik_r,
       CAST(CASE WHEN loglik_r = MAX(loglik_r) OVER () THEN 1 ELSE 0 END
            AS BIGINT) AS is_best
FROM ll ORDER BY lambda
""",
)
def a149_boxcox_grid(spark, sf_dir):
    """Box-Cox transform selection by profile log-likelihood over the
    λ grid {−1, 0, ½, 1} on $100-binned order totals. Bin midpoints
    are EXACT odd integers in $50 units (m = 2·bin+1 ≤ 3999), so each
    transform runs once per (λ, bin) — ≤ 8k transcendental sites with
    exact integer inputs — is fixed-pointed to a BIGINT at 1e8 (then
    coarsened to 1e2 for the square — the 10× audit caught the 1e3
    variant overflowing on capped-top-bin mass), and the weighted
    moment sums are exact integers (Σw·qc² ≤ ~2.4e18 at 10×sf1).
    Box-Cox is scale-equivariant, so the $50 unit does not change the
    argmax. The Jacobian term (λ−1)Σw·ln(m) reuses the same quantized
    ln. At 100 TB: one histogram fold (≤2000 bins), a 4×-bin literal
    grid, then scalar math."""
    t = table(spark, sf_dir, "orders").select(
        F.expr(
            "CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) div 100"
            " AS BIGINT)"
        ).alias("x")
    )
    binned = t.groupBy(
        (2 * F.least(F.expr("x div 100"), F.lit(1999)) + 1)
        .cast("bigint")
        .alias("m")
    ).agg(F.count("*").cast("bigint").alias("w"))
    lam = literal_frame(
        spark,
        [(-1.0,), (0.0,), (0.5,), (1.0,)], "lambda double"
    )
    mD = F.col("m").cast("double")
    q = (
        F.when(
            F.col("lambda") == -1.0,
            F.round((1.0 - 1.0 / F.col("m")) * 1e8, 0),
        )
        .when(F.col("lambda") == 0.0, F.round(F.log(mD) * 1e8, 0))
        .when(
            F.col("lambda") == 0.5,
            F.round(2.0 * (F.sqrt(mD) - 1.0) * 1e8, 0),
        )
        .otherwise(((F.col("m") - 1) * F.lit(100000000)).cast("double"))
        .cast("bigint")
    )
    tr = binned.crossJoin(F.broadcast(lam)).select(
        "lambda",
        "m",
        "w",
        q.alias("q"),
        money(F.log(mD), 8).alias("lnm_q"),
    )
    qc = F.expr("q div 1000000")
    s = tr.groupBy("lambda").agg(
        F.sum("w").cast("bigint").alias("n"),
        F.sum(F.col("w") * qc).cast("bigint").alias("s1"),
        F.sum(F.col("w") * qc * qc).cast("bigint").alias("s2"),
        F.sum(F.col("w") * F.col("lnm_q")).cast("bigint").alias("slnm"),
    )
    nD = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nD
    var = (F.col("s2").cast("double") / nD - mean * mean) / 1e4
    ll = s.select(
        "lambda",
        "n",
        F.round(
            -0.5 * nD * F.log(var)
            + (F.col("lambda") - 1.0)
            * (F.col("slnm").cast("double") / 1e8),
            6,
        ).alias("loglik_r"),
    )
    wall = Window.partitionBy()
    return ll.select(
        "lambda",
        "n",
        "loglik_r",
        F.when(F.col("loglik_r") == F.max("loglik_r").over(wall), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_best"),
    ).orderBy("lambda")


@query(
    "a150_neyman_allocation",
    oracle="""
WITH strat AS (
  SELECT o_orderpriority AS stratum,
         CAST(COUNT(*) AS BIGINT) AS nh,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 100)
              AS BIGINT) AS s1,
         CAST(SUM((CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 100)
                  * (CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 100))
              AS BIGINT) AS s2
  FROM orders GROUP BY 1
), sd AS (
  SELECT stratum, nh,
         SQRT((CAST(s2 AS DOUBLE) * nh - CAST(s1 AS DOUBLE) * s1)
              / (CAST(nh AS DOUBLE) * (nh - 1))) AS sh
  FROM strat
), share AS (
  SELECT stratum, nh, sh,
         1000.0 * (nh * sh) / SUM(nh * sh) OVER () AS alloc
  FROM sd
), lr AS (
  SELECT stratum, nh, sh, alloc,
         CAST(FLOOR(alloc) AS BIGINT) AS base,
         ROW_NUMBER() OVER (ORDER BY alloc - FLOOR(alloc) DESC, stratum)
           AS rnk,
         CAST(1000 - SUM(CAST(FLOOR(alloc) AS BIGINT)) OVER () AS BIGINT)
           AS leftover
  FROM share
)
SELECT stratum, nh, round(sh, 6) AS stratum_sd_r,
       CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS n_alloc
FROM lr ORDER BY stratum
""",
)
def a150_neyman_allocation(spark, sf_dir):
    """Neyman optimal allocation of a 1000-unit sample across the five
    order-priority strata: n_h ∝ N_h·S_h, integerized by the
    largest-remainder (Hamilton) method with a deterministic tie-break
    on stratum key. Per-stratum variances come from exact BIGINT
    dollar moments (one grouped fold), sqrt runs once per stratum, and
    the remainder ranking touches exactly five rows. This is the
    planning step in front of every stratified-sampling pipeline
    (q270/a293 execute such designs). At 100 TB: one map-side-combined
    aggregate over orders; everything after is 5-row math."""
    o = table(spark, sf_dir, "orders")
    xd = F.expr(
        "CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) div 100"
    )
    strat = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count("*").cast("bigint").alias("nh"),
        F.sum(xd).cast("bigint").alias("s1"),
        F.sum(xd * xd).cast("bigint").alias("s2"),
    )
    nhD = F.col("nh").cast("double")
    sh = F.sqrt(
        (F.col("s2").cast("double") * F.col("nh")
         - F.col("s1").cast("double") * F.col("s1"))
        / (nhD * (F.col("nh") - 1))
    )
    sd = strat.select("stratum", "nh", sh.alias("sh"))
    wall = Window.partitionBy()
    share = sd.select(
        "stratum",
        "nh",
        "sh",
        (
            1000.0 * (F.col("nh") * F.col("sh"))
            / F.sum(F.col("nh") * F.col("sh")).over(wall)
        ).alias("alloc"),
    )
    lr = share.select(
        "stratum",
        "nh",
        "sh",
        "alloc",
        F.floor("alloc").cast("bigint").alias("base"),
        F.row_number()
        .over(Window.orderBy((F.col("alloc") - F.floor("alloc")).desc(), "stratum"))
        .alias("rnk"),
        (1000 - F.sum(F.floor("alloc").cast("bigint")).over(wall))
        .cast("bigint")
        .alias("leftover"),
    )
    return lr.select(
        "stratum",
        "nh",
        F.round("sh", 6).alias("stratum_sd_r"),
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    ).orderBy("stratum")


def _pow_case(var: str, base: int, hi: int = 10) -> str:
    """Shared-expression-text integer power lookup: identical CASE text
    runs on both engines, so no libm POWER is ever involved."""
    arms = " ".join(
        f"WHEN {k} THEN {base ** k}" for k in range(hi + 1)
    )
    # BIGINT-typed: products of two lookups (e.g. 7^9 * 5^9) overflow
    # 32-bit arithmetic under ANSI mode otherwise.
    return f"CAST(CASE {var} {arms} END AS BIGINT)"


# Per-nation top-10 customer ranking: prediction = spend rank, graded
# truth = order-count quartile (0..3). Shared by ERR (a151) / RBP (a152).
_RANKED_SQL = """
  SELECT n.n_name AS nation,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
             ORDER BY s.spend_cents DESC, s.c_custkey) AS r,
         CAST(NTILE(4) OVER (PARTITION BY n.n_name
             ORDER BY s.n_orders, s.c_custkey) - 1 AS BIGINT) AS g
  FROM (
    SELECT c.c_custkey, c.c_nationkey,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
                AS BIGINT) AS spend_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_nationkey
  ) s JOIN nation n ON n.n_nationkey = s.c_nationkey
"""


def _ranked(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(money("o_totalprice")).cast("bigint").alias("spend_cents"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    n = table(spark, sf_dir, "nation")
    j = s.join(
        F.broadcast(n), s.c_nationkey == n.n_nationkey
    ).select(F.col("n_name").alias("nation"), "c_custkey",
             "spend_cents", "n_orders")
    wp = Window.partitionBy("nation").orderBy(
        F.col("spend_cents").desc(), "c_custkey"
    )
    wg = Window.partitionBy("nation").orderBy("n_orders", "c_custkey")
    return j.select(
        "nation",
        F.row_number().over(wp).alias("r"),
        (F.ntile(4).over(wg) - 1).cast("bigint").alias("g"),
    )


@query(
    "a151_expected_reciprocal_rank",
    oracle=f"""
WITH ranked AS ({_RANKED_SQL}),
top10 AS (
  SELECT nation, r,
         CAST({_pow_case("g", 2, 3)} - 1 AS BIGINT) AS nr
  FROM ranked WHERE r <= 10
), cum AS (
  SELECT nation, r, nr,
         CAST(COALESCE(SUM(CASE WHEN nr = 1 THEN 1 END) OVER (
             PARTITION BY nation ORDER BY r
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS a7,
         CAST(COALESCE(SUM(CASE WHEN nr = 3 THEN 1 END) OVER (
             PARTITION BY nation ORDER BY r
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS b5,
         CAST(COALESCE(SUM(CASE WHEN nr = 7 THEN 1 END) OVER (
             PARTITION BY nation ORDER BY r
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS z1
  FROM top10
), terms AS (
  SELECT nation,
         CAST(ROUND(
           CAST(nr * ({_pow_case("a7", 7)}) * ({_pow_case("b5", 5)})
                AS DOUBLE)
           / CAST(({_pow_case("a7 + b5 + z1", 8)}) * 8 * r AS DOUBLE)
           * 1000000000000000.0, 0) AS BIGINT) AS tq
  FROM cum
)
SELECT nation,
       round(CAST(SUM(tq) AS DOUBLE) / 1e15, 6) AS err_r
FROM terms GROUP BY nation ORDER BY nation
""",
)
def a151_expected_reciprocal_rank(spark, sf_dir):
    """Expected Reciprocal Rank @10 (Chapelle et al. 2009) per nation:
    customers ranked by spend, graded by order-count quartile, stop
    probability R = (2^g−1)/8 ∈ {0,⅛,⅜,⅞}. The cascade product
    Π_{i<r}(1−R_i) = 7^a·5^b/8^(a+b+z) is EXACT integer arithmetic —
    a/b/z are window counts of each grade among earlier ranks, powers
    come from a shared CASE lookup (no libm POWER on either engine) —
    so each rank's term is one correctly-rounded division of exact
    integers (bit-identical cross-engine), femto-quantized before the
    per-nation sum. At 100 TB: one orders⋈customer fold, two windows,
    then 10 rows per query group."""
    ranked = _ranked(spark, sf_dir)
    top10 = ranked.filter(F.col("r") <= 10).select(
        "nation",
        "r",
        (F.expr(_pow_case("g", 2, 3)) - 1).cast("bigint").alias("nr"),
    )
    wc = (
        Window.partitionBy("nation")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def cnt(v):
        return F.coalesce(
            F.sum(F.when(F.col("nr") == v, 1)).over(wc), F.lit(0)
        ).cast("bigint")

    cum = top10.select(
        "nation",
        "r",
        "nr",
        cnt(1).alias("a7"),
        cnt(3).alias("b5"),
        cnt(7).alias("z1"),
    )
    terms = cum.select(
        "nation",
        money(
            (
                F.col("nr")
                * F.expr(_pow_case("a7", 7))
                * F.expr(_pow_case("b5", 5))
            ).cast("double")
            / (
                F.expr(_pow_case("a7 + b5 + z1", 8)) * 8 * F.col("r")
            ).cast("double"),
            15,
        )
        .alias("tq"),
    )
    return (
        terms.groupBy("nation")
        .agg(F.round(F.sum("tq").cast("double") / 1e15, 6).alias("err_r"))
        .orderBy("nation")
    )


@query(
    "a152_rank_biased_precision",
    oracle=f"""
WITH ranked AS ({_RANKED_SQL}),
top10 AS (
  SELECT nation, r, CASE WHEN g >= 2 THEN 1 ELSE 0 END AS rel
  FROM ranked WHERE r <= 10
), s AS (
  SELECT nation,
         CAST(SUM(rel * ({_pow_case("r - 1", 4, 9)})
                      * ({_pow_case("10 - r", 5, 9)})) AS BIGINT) AS snum,
         CAST(SUM(rel) AS BIGINT) AS n_rel
  FROM top10 GROUP BY nation
)
SELECT nation, n_rel,
       round(0.2 * CAST(snum AS DOUBLE) / 1953125.0, 6) AS rbp_r
FROM s ORDER BY nation
""",
)
def a152_rank_biased_precision(spark, sf_dir):
    """Rank-Biased Precision (Moffat & Zobel 2008) @10 with persistence
    p = 0.8 per nation, binary relevance = top-half order-count grade.
    p^(r−1) = 4^(r−1)/5^(r−1) is kept as EXACT integers by scaling
    every term with 5^(10−r) (common denominator 5^9 = 1,953,125,
    scaled sum ≤ ~6e6), powers from the shared CASE lookup — the only
    float op is the single terminal division per nation. At 100 TB:
    same one-fold + window shape as a151; the metric sum sees 10 rows
    per query group regardless of corpus size."""
    ranked = _ranked(spark, sf_dir)
    top10 = ranked.filter(F.col("r") <= 10).select(
        "nation",
        "r",
        F.when(F.col("g") >= 2, 1).otherwise(0).alias("rel"),
    )
    s = top10.groupBy("nation").agg(
        F.sum(
            F.col("rel")
            * F.expr(_pow_case("r - 1", 4, 9))
            * F.expr(_pow_case("10 - r", 5, 9))
        )
        .cast("bigint")
        .alias("snum"),
        F.sum("rel").cast("bigint").alias("n_rel"),
    )
    return s.select(
        "nation",
        "n_rel",
        F.round(0.2 * F.col("snum").cast("double") / 1953125.0, 6).alias(
            "rbp_r"
        ),
    ).orderBy("nation")



@query(
    "a153_interarrival_reliability",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY event_type, user_id
             ORDER BY epoch_us(ts), event_id) AS BIGINT) AS gap_us
  FROM events
), g AS (
  SELECT event_type, gap_us,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap_us)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS k
  FROM gaps WHERE gap_us IS NOT NULL
), agg AS (
  SELECT event_type,
         CAST(MAX(k) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_us) AS BIGINT) AS s1,
         CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * k) AS BIGINT)
                       THEN gap_us END) AS BIGINT) AS p50_us,
         CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * k) AS BIGINT)
                       THEN gap_us END) AS BIGINT) AS p90_us
  FROM g GROUP BY event_type
)
SELECT event_type, n_gaps,
       CAST((2 * s1 + n_gaps) // (2 * n_gaps) AS BIGINT) AS mtbe_us,
       p50_us, p90_us
FROM agg ORDER BY event_type
""",
)
def a153_interarrival_reliability(spark, sf_dir):
    """Inter-arrival reliability panel per event type — the MTBF/MTTR
    shape over the event stream: per (type, user) consecutive-event
    gaps in exact integer microseconds, then per type the gap count,
    the rounded-division mean (MTBE), and the exact P50/P90 order
    statistics at ceil(q·k). Everything is BIGINT end to end — no
    float enters the query at all, so no rounding class can flake.
    At 100 TB: one shuffle on (event_type, user_id) for the LAG, one
    per-type rank window over the gap summary; no pairwise joins."""
    ev = table(spark, sf_dir, "events")
    wl = Window.partitionBy("event_type", "user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wl))
        .cast("bigint")
        .alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("gap_us")
    wk = Window.partitionBy("event_type")
    g = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wk).alias("k"),
    )
    agg = g.groupBy("event_type").agg(
        F.max("k").cast("bigint").alias("n_gaps"),
        F.sum("gap_us").cast("bigint").alias("s1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("k")).cast("bigint"),
                F.col("gap_us"),
            )
        )
        .cast("bigint")
        .alias("p50_us"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.9 * F.col("k")).cast("bigint"),
                F.col("gap_us"),
            )
        )
        .cast("bigint")
        .alias("p90_us"),
    )
    return agg.select(
        "event_type",
        "n_gaps",
        F.expr("CAST((2 * s1 + n_gaps) div (2 * n_gaps) AS BIGINT)").alias(
            "mtbe_us"
        ),
        "p50_us",
        "p90_us",
    ).orderBy("event_type")


@query(
    "a154_fellegi_sunter",
    oracle="""
WITH c AS (
  SELECT c_custkey // 10 AS hh,
         CAST(c_nationkey AS BIGINT) AS f_nation,
         c_mktsegment AS f_seg,
         CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) // 100000 AS f_bal
  FROM customer
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c
), mpairs AS (
  SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS m_all
  FROM (SELECT COUNT(*) AS k FROM c GROUP BY hh)
), fields AS (
  SELECT 'balance_k' AS field,
         (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT)
          FROM (SELECT COUNT(*) AS k FROM c GROUP BY f_bal)) AS agree_all,
         (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT)
          FROM (SELECT COUNT(*) AS k FROM c GROUP BY hh, f_bal))
           AS agree_match
  UNION ALL
  SELECT 'nation',
         (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT)
          FROM (SELECT COUNT(*) AS k FROM c GROUP BY f_nation)),
         (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT)
          FROM (SELECT COUNT(*) AS k FROM c GROUP BY hh, f_nation))
  UNION ALL
  SELECT 'segment',
         (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT)
          FROM (SELECT COUNT(*) AS k FROM c GROUP BY f_seg)),
         (SELECT CAST(SUM(k * (k - 1) // 2) AS BIGINT)
          FROM (SELECT COUNT(*) AS k FROM c GROUP BY hh, f_seg))
), rates AS (
  SELECT f.field,
         CAST(f.agree_match + 1 AS DOUBLE) / (m.m_all + 2) AS m_k,
         CAST(f.agree_all - f.agree_match + 1 AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * (t.n - 1) / 2.0 - m.m_all + 2.0)
           AS u_k
  FROM fields f CROSS JOIN mpairs m CROSS JOIN tot t
)
SELECT field,
       round(m_k, 6) AS m_r,
       round(u_k, 6) AS u_r,
       round(LN(m_k / u_k) / LN(2.0), 6) AS agree_weight_r,
       round(LN((1.0 - m_k) / (1.0 - u_k)) / LN(2.0), 6)
         AS disagree_weight_r
FROM rates ORDER BY field
""",
)
def a154_fellegi_sunter(spark, sf_dir):
    """Fellegi–Sunter record-linkage m/u probabilities and log2 match
    weights WITHOUT materializing a single pair: "true match" is the
    synthetic household custkey÷10, and every pair count — matched
    pairs, global field-agreement pairs, within-household agreement
    pairs — is a Σ C(k,2) over a histogram fold, so the O(n²)
    comparison space is never built (the blocking-free trick that
    makes FS parameter estimation feasible at 100 TB). Comparison
    fields: nation, market segment, $1000 balance bucket; add-one
    (Laplace) smoothing keeps both rates strictly inside (0,1) — the
    10× audit's replicated households drive raw m to exactly 1 and
    ln(1−m) to −∞ otherwise. ln runs once per field on exact-integer
    rationals; the weights are the log2 agree/disagree scores a
    linkage pass would apply (a068's fuzzy blocking executes)."""
    c = table(spark, sf_dir, "customer").select(
        F.expr("c_custkey div 10").alias("hh"),
        F.col("c_nationkey").cast("bigint").alias("f_nation"),
        F.col("c_mktsegment").alias("f_seg"),
        F.expr(
            "CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) div 100000"
        ).alias("f_bal"),
    ).localCheckpoint(eager=False)

    def pairs(df, *keys):
        return (
            df.groupBy(*keys)
            .agg(F.count("*").alias("k"))
            .agg(
                F.sum(F.expr("k * (k - 1) div 2")).cast("bigint").alias("p")
            )
        )

    tot = c.agg(F.count("*").cast("bigint").alias("n"))
    m_all = pairs(c, "hh").withColumnRenamed("p", "m_all")
    parts = []
    for field, col in (
        ("balance_k", "f_bal"),
        ("nation", "f_nation"),
        ("segment", "f_seg"),
    ):
        ga = pairs(c, col).withColumnRenamed("p", "agree_all")
        gm = pairs(c, "hh", col).withColumnRenamed("p", "agree_match")
        parts.append(
            ga.crossJoin(gm).select(
                F.lit(field).alias("field"), "agree_all", "agree_match"
            )
        )
    fields = parts[0].unionAll(parts[1]).unionAll(parts[2])
    nD = F.col("n").cast("double")
    m_k = (F.col("agree_match") + 1).cast("double") / (F.col("m_all") + 2)
    u_k = (F.col("agree_all") - F.col("agree_match") + 1).cast("double") / (
        nD * (F.col("n") - 1) / 2.0 - F.col("m_all") + 2.0
    )
    ln2 = F.log(F.lit(2.0))
    return (
        fields.crossJoin(F.broadcast(m_all))
        .crossJoin(F.broadcast(tot))
        .select(
            "field",
            F.round(m_k, 6).alias("m_r"),
            F.round(u_k, 6).alias("u_r"),
            F.round(F.log(m_k / u_k) / ln2, 6).alias("agree_weight_r"),
            F.round(F.log((1.0 - m_k) / (1.0 - u_k)) / ln2, 6).alias(
                "disagree_weight_r"
            ),
        )
        .orderBy("field")
    )


def _spec_trig_rows():
    """Fixed-point DFT basis for the a155 period set, generated once in
    Python and embedded as identical integer literals in both plans
    (the a443/a484 constant-table recipe — no per-row transcendentals
    on either engine)."""
    import math

    rows = []
    for p in (2, 3, 4, 5, 6, 7, 10, 14, 21, 30, 60, 90):
        for j in range(p):
            ang = 2.0 * math.pi * j / p
            rows.append(
                (
                    p,
                    j,
                    int(round(math.cos(ang) * 1000000.0)),
                    int(round(math.sin(ang) * 1000000.0)),
                )
            )
    return rows


_SPEC_TRIG_ROWS = _spec_trig_rows()
_SPEC_TRIG_VALUES = ", ".join(
    f"({p}, {j}, {c}, {s})" for p, j, c, s in _SPEC_TRIG_ROWS
)


@query(
    "a155_spectral_entropy",
    oracle=f"""
WITH daily AS ({_DAILY_SQL}),
ts_ AS (
  SELECT x AS y, row_number() OVER (ORDER BY d) AS t FROM daily
), mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (2 * CAST(SUM(y) AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS ym
  FROM ts_
), dev AS (
  SELECT t.t, CAST(t.y - m.ym AS BIGINT) AS dv, m.n
  FROM ts_ t CROSS JOIN mu m
), trig(p, j, c_fp, s_fp) AS (
  VALUES {_SPEC_TRIG_VALUES}
), sums AS (
  SELECT g.p, MAX(d.n) AS n,
         CAST(SUM(d.dv * g.c_fp) AS BIGINT) AS a_fp,
         CAST(SUM(d.dv * g.s_fp) AS BIGINT) AS b_fp
  FROM dev d JOIN trig g ON g.j = (d.t - 1) % g.p
  GROUP BY g.p
), power_q AS (
  SELECT p, n,
         CAST(ROUND((CAST(a_fp AS DOUBLE) / 1000000.0
                     * (CAST(a_fp AS DOUBLE) / 1000000.0)
                     + CAST(b_fp AS DOUBLE) / 1000000.0
                       * (CAST(b_fp AS DOUBLE) / 1000000.0))
                    / CAST(n AS DOUBLE), 0) AS BIGINT) AS pq
  FROM sums
), tot AS (
  SELECT CAST(SUM(pq) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS k
  FROM power_q
), ent AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(CAST(pq AS DOUBLE) / t.s)
             * LN(CAST(pq AS DOUBLE) / t.s) * 1000000000.0, 0) AS BIGINT))
         AS BIGINT) AS e_q,
         MAX(t.k) AS k
  FROM power_q CROSS JOIN tot t WHERE pq > 0
)
SELECT (SELECT MAX(n) FROM sums) AS n_days, k AS n_periods,
       round(CAST(e_q AS DOUBLE) / 1e9 / LN(CAST(k AS DOUBLE)), 6)
         AS spectral_entropy_r,
       (SELECT p FROM power_q ORDER BY pq DESC, p LIMIT 1)
         AS dominant_period,
       (SELECT round(CAST(pq AS DOUBLE) / t2.s, 6)
        FROM power_q CROSS JOIN tot t2 ORDER BY pq DESC, p LIMIT 1)
         AS dominant_share_r
FROM ent
""",
)
def a155_spectral_entropy(spark, sf_dir):
    """Normalized spectral entropy of daily revenue over a 12-period
    DFT grid (2–90 days) — the "how concentrated is the seasonality"
    scalar on top of a484's single-frequency probes. The cos/sin basis
    is a 252-row fixed-point integer literal table (a443 recipe), so
    A_p/B_p are exact BIGINT sums; each period's power is rounded to
    an integer BEFORE the cross-period total (no unordered double
    sums), shares are integer ratios, and the 12 p·ln p terms are
    nano-quantized per term. Entropy is normalized by ln(12); the
    dominant period and its share ride along. At 100 TB: one daily
    fold, one broadcast basis join against the ~2.4k-row summary."""
    o = table(spark, sf_dir, "orders")
    x = money_units("o_totalprice", 100).alias("x")
    daily = daily_orders(o, x).localCheckpoint(eager=False)
    ts = daily.select(
        F.col("x").alias("y"),
        F.row_number().over(Window.orderBy("d")).alias("t"),
    )
    mu = ts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "(2 * CAST(SUM(y) AS BIGINT) + COUNT(*)) div (2 * COUNT(*))"
        ).alias("ym"),
    )
    dev = ts.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("y") - F.col("ym")).cast("bigint").alias("dv"), "n"
    )
    trig = literal_frame(
        spark,
        _SPEC_TRIG_ROWS, "p int, j int, c_fp bigint, s_fp bigint"
    )
    sums = (
        dev.join(F.broadcast(trig), F.col("j") == (F.col("t") - 1) % F.col("p"))
        .groupBy("p")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.col("dv") * F.col("c_fp")).cast("bigint").alias("a_fp"),
            F.sum(F.col("dv") * F.col("s_fp")).cast("bigint").alias("b_fp"),
        )
    )
    af = F.col("a_fp").cast("double") / 1e6
    bf = F.col("b_fp").cast("double") / 1e6
    power_q = sums.select(
        "p",
        "n",
        F.round((af * af + bf * bf) / F.col("n").cast("double"), 0)
        .cast("bigint")
        .alias("pq"),
    ).localCheckpoint(eager=False)
    tot = power_q.agg(
        F.sum("pq").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("k"),
    )
    share = F.col("pq").cast("double") / F.col("s")
    ent = (
        power_q.crossJoin(F.broadcast(tot))
        .filter(F.col("pq") > 0)
        .agg(
            F.sum(money(-share * F.log(share), 9))
            .cast("bigint")
            .alias("e_q"),
            F.max("k").alias("k"),
        )
    )
    ndays = power_q.agg(F.max("n").alias("n_days"))
    dom = (
        power_q.crossJoin(F.broadcast(tot))
        .orderBy(F.col("pq").desc(), "p")
        .limit(1)
        .select(
            F.col("p").alias("dominant_period"),
            F.round(share, 6).alias("dominant_share_r"),
        )
    )
    return (
        ent.crossJoin(F.broadcast(ndays))
        .crossJoin(F.broadcast(dom))
        .select(
            "n_days",
            F.col("k").alias("n_periods"),
            F.round(
                F.col("e_q").cast("double")
                / 1e9
                / F.log(F.col("k").cast("double")),
                6,
            ).alias("spectral_entropy_r"),
            "dominant_period",
            "dominant_share_r",
        )
    )


@query(
    "a156_kuiper_test",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
), bounds AS (
  SELECT MIN(d) AS d0,
         CAST(date_diff('day', MIN(d), MAX(d)) + 1 AS BIGINT) AS s,
         CAST(SUM(c) AS BIGINT) AS n
  FROM daily
), steps AS (
  SELECT CAST(date_diff('day', b.d0, y.d) AS BIGINT) + 1 AS k1,
         CAST(SUM(y.c) OVER (ORDER BY y.d) AS BIGINT) AS ck,
         b.s, b.n
  FROM daily y CROSS JOIN bounds b
), m AS (
  SELECT MAX(ck * s - k1 * n) AS m_plus,
         MAX(k1 * n - ck * s) AS m_minus,
         MAX(s) AS s, MAX(n) AS n
  FROM steps
), v AS (
  SELECT n,
         (CAST(m_plus AS DOUBLE) + m_minus) / (CAST(n AS DOUBLE) * s)
           AS vstat
  FROM m
), lam AS (
  SELECT n, vstat,
         (SQRT(CAST(n AS DOUBLE)) + 0.155 + 0.24 / SQRT(CAST(n AS DOUBLE)))
           * vstat AS l
  FROM v
)
SELECT n AS n_orders,
       round(vstat, 6) AS kuiper_v_r,
       round(2.0 * ((4.0 * l * l - 1.0) * EXP(-2.0 * l * l)
                    + (16.0 * l * l - 1.0) * EXP(-8.0 * l * l)), 6)
         AS p_approx_r
FROM lam
""",
)
def a156_kuiper_test(spark, sf_dir):
    """Kuiper uniformity test of order arrivals over the calendar span
    (the rotation-invariant two-sided Kolmogorov variant — sensitive
    to cyclic shifts, the right test for "is load seasonal-flat").
    Discrete-grid form: V = D⁺ + D⁻ where both suprema are taken over
    day boundaries, computed as EXACT integer maxima of c_k·S − k·n
    (c_k = cumulative order count, S = span days, n = orders) — one
    terminal division. The two-term asymptotic p-value (Stephens 1970
    correction) is a fixed-order scalar expression. At 100 TB: one
    orders fold to ~2.4k daily rows, one cumulative window."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), F.count("*").cast("bigint").alias("c")
    )
    bounds = daily.agg(
        F.min("d").alias("d0"),
        (F.datediff(F.max("d"), F.min("d")) + 1).cast("bigint").alias("s"),
        F.sum("c").cast("bigint").alias("n"),
    )
    steps = daily.crossJoin(F.broadcast(bounds)).select(
        (F.datediff(F.col("d"), F.col("d0")) + 1).cast("bigint").alias("k1"),
        F.sum("c").over(Window.orderBy("d")).cast("bigint").alias("ck"),
        "s",
        "n",
    )
    m = steps.agg(
        F.max(F.col("ck") * F.col("s") - F.col("k1") * F.col("n")).alias(
            "m_plus"
        ),
        F.max(F.col("k1") * F.col("n") - F.col("ck") * F.col("s")).alias(
            "m_minus"
        ),
        F.max("s").alias("s"),
        F.max("n").alias("n"),
    )
    nD = F.col("n").cast("double")
    vstat = (F.col("m_plus").cast("double") + F.col("m_minus")) / (
        nD * F.col("s")
    )
    lam = (F.sqrt(nD) + 0.155 + 0.24 / F.sqrt(nD)) * vstat
    v = m.select("n", vstat.alias("vstat"), lam.alias("l"))
    ll = F.col("l") * F.col("l")
    return v.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("vstat"), 6).alias("kuiper_v_r"),
        F.round(
            2.0
            * (
                (4.0 * ll - 1.0) * F.exp(-2.0 * ll)
                + (16.0 * ll - 1.0) * F.exp(-8.0 * ll)
            ),
            6,
        ).alias("p_approx_r"),
    )


# Pooled two-sample doubled-rank histogram over per-user engagement
# value sums (purchase = treat, view = ctrl) — the a472 obs shape.
_OBS_SQL = """
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 'treat' ELSE 'ctrl' END
           AS arm,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY user_id, arm
"""

_DRANK_SQL = f"""
WITH obs AS ({_OBS_SQL}),
vals AS (
  SELECT xc,
         CAST(COALESCE(SUM(CASE WHEN arm = 'treat' THEN 1 END), 0)
              AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS g
  FROM obs GROUP BY xc
), ranked AS (
  SELECT xc, c1, g,
         CAST(2 * COALESCE(SUM(g) OVER (ORDER BY xc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + g + 1 AS BIGINT) AS dr
  FROM vals
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(g) AS BIGINT) AS nn
  FROM vals
)
SELECT r.xc, r.c1, r.g, r.dr, t.n1, t.nn, t.nn - t.n1 AS n2
FROM ranked r CROSS JOIN tot t
"""


def _drank(spark, sf_dir):
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    obs = ev.groupBy(
        "user_id",
        F.when(F.col("event_type") == "purchase", "treat")
        .otherwise("ctrl")
        .alias("arm"),
    ).agg(F.sum(money("value")).cast("bigint").alias("xc"))
    vals = obs.groupBy("xc").agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treat", 1)), F.lit(0)
        ).cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("g"),
    )
    wv = Window.orderBy("xc").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "xc",
        "c1",
        "g",
        (2 * F.coalesce(F.sum("g").over(wv), F.lit(0)) + F.col("g") + 1)
        .cast("bigint")
        .alias("dr"),
    )
    tot = vals.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("g").cast("bigint").alias("nn"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "xc", "c1", "g", "dr", "n1", "nn",
        (F.col("nn") - F.col("n1")).alias("n2"),
    )


@query(
    "a157_cucconi_test",
    oracle=f"""
WITH dranks AS ({_DRANK_SQL}),
s AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(nn) AS nn,
         CAST(SUM(c1 * dr * dr) AS BIGINT) AS s2q,
         CAST(SUM(c1 * (2 * (nn + 1) - dr) * (2 * (nn + 1) - dr))
              AS BIGINT) AS c2q
  FROM dranks GROUP BY n1
), uv AS (
  SELECT n1, n2, nn,
         (6.0 * (CAST(s2q AS DOUBLE) / 4.0)
          - CAST(n1 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
         / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1) * (2 * nn + 1)
                * (8 * nn + 11) / 5.0) AS u,
         (6.0 * (CAST(c2q AS DOUBLE) / 4.0)
          - CAST(n1 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
         / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1) * (2 * nn + 1)
                * (8 * nn + 11) / 5.0) AS v,
         2.0 * (CAST(nn AS DOUBLE) * nn - 4.0)
           / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0)) - 1.0 AS rho
  FROM s
)
SELECT n1, n2,
       round(u, 6) AS u_r, round(v, 6) AS v_r,
       round((u * u + v * v - 2.0 * rho * u * v)
             / (2.0 * (1.0 - rho * rho)), 6) AS cucconi_c_r,
       round(EXP(-(u * u + v * v - 2.0 * rho * u * v)
                 / (2.0 * (1.0 - rho * rho))), 6) AS p_approx_r
FROM uv
""",
)
def a157_cucconi_test(spark, sf_dir):
    """Cucconi two-sample location–scale test on per-user engagement
    values (treat = purchase sums, ctrl = view sums): U standardizes
    Σ rank², V the contrary-rank analog, C combines them with their
    exact correlation ρ(N); p ≈ exp(−C). Midranks under ties via the
    DOUBLED-rank histogram (2·cum + g + 1, exact BIGINT — ΣR² = Σdr²/4
    deferred to one terminal double division); the no-tie moment
    formulas are used as documented convention (ties are sparse in
    cent-sums). Σc·dr² ≤ 4N³ stays exact through sf1. At 100 TB: one
    events fold, one value-histogram window — no pairwise work."""
    dranks = _drank(spark, sf_dir)
    nn1 = F.col("nn") + 1
    s = dranks.groupBy("n1").agg(
        F.max("n2").alias("n2"),
        F.max("nn").alias("nn"),
        F.sum(F.col("c1") * F.col("dr") * F.col("dr"))
        .cast("bigint")
        .alias("s2q"),
        F.sum(
            F.col("c1")
            * (2 * (F.col("nn") + 1) - F.col("dr"))
            * (2 * (F.col("nn") + 1) - F.col("dr"))
        )
        .cast("bigint")
        .alias("c2q"),
    )
    n1D = F.col("n1").cast("double")
    nnD = F.col("nn").cast("double")
    den = F.sqrt(
        n1D
        * F.col("n2")
        * (F.col("nn") + 1)
        * (2 * F.col("nn") + 1)
        * (8 * F.col("nn") + 11)
        / 5.0
    )
    u = (
        6.0 * (F.col("s2q").cast("double") / 4.0)
        - n1D * (F.col("nn") + 1) * (2 * F.col("nn") + 1)
    ) / den
    v = (
        6.0 * (F.col("c2q").cast("double") / 4.0)
        - n1D * (F.col("nn") + 1) * (2 * F.col("nn") + 1)
    ) / den
    rho = 2.0 * (nnD * nnD - 4.0) / (
        (2.0 * nnD + 1.0) * (8.0 * nnD + 11.0)
    ) - 1.0
    uv = s.select(
        "n1", "n2", u.alias("u"), v.alias("v"), rho.alias("rho")
    )
    cstat = (
        F.col("u") * F.col("u")
        + F.col("v") * F.col("v")
        - 2.0 * F.col("rho") * F.col("u") * F.col("v")
    ) / (2.0 * (1.0 - F.col("rho") * F.col("rho")))
    return uv.select(
        "n1",
        "n2",
        F.round("u", 6).alias("u_r"),
        F.round("v", 6).alias("v_r"),
        F.round(cstat, 6).alias("cucconi_c_r"),
        F.round(F.exp(-cstat), 6).alias("p_approx_r"),
    )


@query(
    "a158_mood_squared_ranks",
    oracle=f"""
WITH dranks AS ({_DRANK_SQL}),
s AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2, MAX(nn) AS nn,
         CAST(SUM(c1 * (dr - (nn + 1)) * (dr - (nn + 1))) AS BIGINT)
           AS m4q
  FROM dranks GROUP BY n1
)
SELECT n1, n2,
       round(CAST(m4q AS DOUBLE) / 4.0, 6) AS mood_m_r,
       round((CAST(m4q AS DOUBLE) / 4.0
              - CAST(n1 AS DOUBLE) * (CAST(nn AS DOUBLE) * nn - 1.0)
                / 12.0)
             / SQRT(CAST(n1 AS DOUBLE) * n2 * (nn + 1.0)
                    * (CAST(nn AS DOUBLE) * nn - 4.0) / 180.0), 6)
         AS mood_z_r
FROM s
""",
)
def a158_mood_squared_ranks(spark, sf_dir):
    """Mood's squared-rank dispersion test on the same two-sample
    engagement pool as a157: M = Σ(R_i − (N+1)/2)² over the treat
    sample measures scale difference. With doubled ranks, (dr−(N+1))²
    = 4(R−(N+1)/2)², so M = m4q/4 from one exact BIGINT histogram
    fold; mean n1(N²−1)/12 and variance n1·n2(N+1)(N²−4)/180 are the
    documented no-tie convention (cent-sum values make ties sparse).
    At 100 TB: identical one-fold + one-window shape as a157 — the
    two tests share the doubled-rank histogram CTE."""
    dranks = _drank(spark, sf_dir)
    s = dranks.groupBy("n1").agg(
        F.max("n2").alias("n2"),
        F.max("nn").alias("nn"),
        F.sum(
            F.col("c1")
            * (F.col("dr") - (F.col("nn") + 1))
            * (F.col("dr") - (F.col("nn") + 1))
        )
        .cast("bigint")
        .alias("m4q"),
    )
    n1D = F.col("n1").cast("double")
    nnD = F.col("nn").cast("double")
    mstat = F.col("m4q").cast("double") / 4.0
    z = (mstat - n1D * (nnD * nnD - 1.0) / 12.0) / F.sqrt(
        n1D * F.col("n2") * (nnD + 1.0) * (nnD * nnD - 4.0) / 180.0
    )
    return s.select(
        "n1",
        "n2",
        F.round(mstat, 6).alias("mood_m_r"),
        F.round(z, 6).alias("mood_z_r"),
    )


@query(
    "a159_dagostino_k2",
    oracle=f"""
WITH daily AS (
  SELECT d, CAST(x // 1000 AS BIGINT) AS x FROM ({_DAILY_SQL})
), mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (2 * CAST(SUM(x) AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS ym
  FROM daily
), mus AS (
  SELECT n, ym, GREATEST(1, ym // 3000) AS su FROM mu
), dv AS (
  SELECT m.n, CAST((d.x - m.ym) // m.su AS BIGINT) AS v
  FROM daily d CROSS JOIN mus m
), mom AS (
  SELECT MAX(n) AS n,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2,
         CAST(SUM(v * v * v) AS BIGINT) AS s3,
         CAST(SUM(v * v * v * v) AS BIGINT) AS s4
  FROM dv
), c AS (
  SELECT n,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) AS m3,
         CAST(s4 AS DOUBLE) / n
           - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
           + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s2 AS DOUBLE) / n)
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
  FROM mom
), g AS (
  SELECT n, m3 / (m2 * SQRT(m2)) AS b1, m4 / (m2 * m2) AS b2,
         CAST(n AS DOUBLE) AS nd
  FROM c
), z1p AS (
  SELECT n, b2, nd,
         b1 * SQRT((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0))) AS y,
         3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
           / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0)) AS beta2
  FROM g
), z1 AS (
  SELECT n, b2, nd,
         (1.0 / SQRT(LN(SQRT(-1.0 + SQRT(2.0 * (beta2 - 1.0))))))
           * LN(y / SQRT(2.0 / (-1.0 + SQRT(2.0 * (beta2 - 1.0)) - 1.0))
                + SQRT((y / SQRT(2.0 / (-1.0 + SQRT(2.0 * (beta2 - 1.0))
                                        - 1.0)))
                       * (y / SQRT(2.0 / (-1.0 + SQRT(2.0 * (beta2 - 1.0))
                                          - 1.0))) + 1.0)) AS z1v
  FROM z1p
), z2p AS (
  SELECT n, nd, z1v,
         (b2 - 3.0 * (nd - 1.0) / (nd + 1.0))
           / SQRT(24.0 * nd * (nd - 2.0) * (nd - 3.0)
                  / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0)))
           AS xk,
         6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
           * SQRT(6.0 * (nd + 3.0) * (nd + 5.0)
                  / (nd * (nd - 2.0) * (nd - 3.0))) AS sb1
  FROM z1
), z2a AS (
  SELECT n, nd, z1v, xk,
         6.0 + 8.0 / sb1 * (2.0 / sb1 + SQRT(1.0 + 4.0 / (sb1 * sb1)))
           AS a
  FROM z2p
), z2 AS (
  SELECT n, z1v,
         ((1.0 - 2.0 / (9.0 * a))
          - CBRT((1.0 - 2.0 / a) / (1.0 + xk * SQRT(2.0 / (a - 4.0)))))
         / SQRT(2.0 / (9.0 * a)) AS z2v
  FROM z2a
)
SELECT n AS n_days,
       round(z1v, 6) AS skew_z_r,
       round(z2v, 6) AS kurt_z_r,
       round(z1v * z1v + z2v * z2v, 6) AS k2_r
FROM z2
""",
)
def a159_dagostino_k2(spark, sf_dir):
    """D'Agostino–Pearson K² omnibus normality test on daily revenue
    (kilodollars): Z1 is D'Agostino (1970)'s skewness transform, Z2
    Anscombe–Glynn (1983)'s kurtosis transform, K² = Z1² + Z2². All
    four raw moments are exact BIGINT sums of integer-rounded-demeaned
    values in an ADAPTIVE unit (kilodollars ÷ max(1, mean/3000), so
    demeaned magnitudes stay ~3e3 and 4th-power sums under ~2e17 at
    EVERY scale — the 10× audit caught the fixed-unit variant
    overflowing; both engines truncate negative integer division
    identically, verified); skewness/kurtosis are scale-invariant so
    the unit cancels. Every transcendental (sqrt/ln/cbrt) runs once on scalar
    aggregates. Complements a109's Jarque–Bera with the finite-n
    normalizing transforms. At 100 TB: one daily fold then pure
    scalar math."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o, money_units("o_totalprice", 100000).alias("x")
    ).localCheckpoint(eager=False)
    mu = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "(2 * CAST(SUM(x) AS BIGINT) + COUNT(*)) div (2 * COUNT(*))"
        ).alias("ym"),
    ).select(
        "n", "ym", F.greatest(F.lit(1), F.expr("ym div 3000")).alias("su")
    )
    dv = F.expr("CAST((x - ym) div su AS BIGINT)")
    mom = daily.crossJoin(F.broadcast(mu)).select(
        "n", dv.alias("v")
    ).agg(
        F.max("n").alias("n"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.expr("v * v")).cast("bigint").alias("s2"),
        F.sum(F.expr("v * v * v")).cast("bigint").alias("s3"),
        F.sum(F.expr("v * v * v * v")).cast("bigint").alias("s4"),
    )
    nD = F.col("n").cast("double")
    a1 = F.col("s1").cast("double") / nD
    a2 = F.col("s2").cast("double") / nD
    a3 = F.col("s3").cast("double") / nD
    a4 = F.col("s4").cast("double") / nD
    c = mom.select(
        "n",
        (a2 - a1 * a1).alias("m2"),
        (a3 - 3.0 * a1 * a2 + 2.0 * a1 * a1 * a1).alias("m3"),
        (a4 - 4.0 * a1 * a3 + 6.0 * a1 * a1 * a2 - 3.0 * a1 * a1 * a1 * a1)
        .alias("m4"),
    )
    g = c.select(
        "n",
        (F.col("m3") / (F.col("m2") * F.sqrt("m2"))).alias("b1"),
        (F.col("m4") / (F.col("m2") * F.col("m2"))).alias("b2"),
        F.col("n").cast("double").alias("nd"),
    )
    nd = F.col("nd")
    y = F.col("b1") * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
    beta2 = (
        3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
    )
    z1p = g.select("n", "b2", "nd", y.alias("y"), beta2.alias("beta2"))
    w2m1 = -1.0 + F.sqrt(2.0 * (F.col("beta2") - 1.0))
    alpha = F.sqrt(2.0 / (w2m1 - 1.0))
    z1v = (1.0 / F.sqrt(F.log(F.sqrt(w2m1)))) * F.log(
        F.col("y") / alpha
        + F.sqrt((F.col("y") / alpha) * (F.col("y") / alpha) + 1.0)
    )
    z1 = z1p.select("n", "b2", "nd", z1v.alias("z1v"))
    xk = (F.col("b2") - 3.0 * (nd - 1.0) / (nd + 1.0)) / F.sqrt(
        24.0 * nd * (nd - 2.0) * (nd - 3.0)
        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
    )
    sb1 = (
        6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
    ) * F.sqrt(
        6.0 * (nd + 3.0) * (nd + 5.0) / (nd * (nd - 2.0) * (nd - 3.0))
    )
    z2p = z1.select("n", "nd", "z1v", xk.alias("xk"), sb1.alias("sb1"))
    a = 6.0 + 8.0 / F.col("sb1") * (
        2.0 / F.col("sb1") + F.sqrt(1.0 + 4.0 / (F.col("sb1") * F.col("sb1")))
    )
    z2a = z2p.select("n", "nd", "z1v", "xk", a.alias("a"))
    z2v = (
        (1.0 - 2.0 / (9.0 * F.col("a")))
        - F.cbrt(
            (1.0 - 2.0 / F.col("a"))
            / (1.0 + F.col("xk") * F.sqrt(2.0 / (F.col("a") - 4.0)))
        )
    ) / F.sqrt(2.0 / (9.0 * F.col("a")))
    z2 = z2a.select("n", "z1v", z2v.alias("z2v"))
    return z2.select(
        F.col("n").alias("n_days"),
        F.round("z1v", 6).alias("skew_z_r"),
        F.round("z2v", 6).alias("kurt_z_r"),
        F.round(
            F.col("z1v") * F.col("z1v") + F.col("z2v") * F.col("z2v"), 6
        ).alias("k2_r"),
    )


@query(
    "a160_theta_forecast",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), idx AS (
  SELECT grp, y,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY d) AS BIGINT)
           AS t
  FROM daily
), ols AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM idx GROUP BY grp
), coefs AS (
  SELECT grp, n,
         (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) * st)
           / n AS a
  FROM ols
), zlist AS (
  SELECT i.grp, c.n, c.a, c.b,
         list(2.0 * i.y - (c.a + c.b * i.t) ORDER BY i.t) AS z
  FROM idx i JOIN coefs c ON c.grp = i.grp
  GROUP BY i.grp, c.n, c.a, c.b
), ses AS (
  SELECT grp, n, a, b,
         list_reduce(z, (acc, x) -> 0.5 * x + 0.5 * acc) AS l
  FROM zlist
)
SELECT grp, n AS n_days,
       round(b, 6) AS trend_slope_r,
       round(l, 6) AS ses_level_r,
       round(0.5 * l + 0.5 * (a + b * (n + 1)), 6) AS forecast_1_r,
       round(0.5 * l + 0.5 * (a + b * (n + 14)), 6) AS forecast_14_r
FROM ses ORDER BY grp
""",
)
def a160_theta_forecast(spark, sf_dir):
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000, the
    M3 winner) per order priority: the θ=2 line z_t = 2y_t − (a+bt)
    doubles local curvature around the OLS trend, SES(α=½) smooths it,
    and the h-step forecast averages the flat SES level with the trend
    extrapolation. OLS a/b come from exact BIGINT (t, y) sums; the SES
    recurrence uses the single-field fold BOTH engines evaluate
    identically (binary-exact α=0.5; DuckDB list_reduce seeds with the
    first element = SES init, and the r4 multi-field-struct
    list_reduce bug does not apply to a scalar accumulator — Spark
    mirrors with F.aggregate over the same slice). Sequential per
    group as the math demands, parallel across groups. At 100 TB: one
    (grp, day) fold, one array collect per group (~2.4k elements)."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"),
        money_units("o_totalprice", 100).alias("y"),
        by=(F.col("o_orderpriority").alias("grp"),),
    )
    idx = daily.select(
        "grp",
        "y",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("d"))
        .cast("bigint")
        .alias("t"),
    ).localCheckpoint(eager=False)
    zed = idx.join(trend_fit(idx, "grp"), "grp").select(
        "grp",
        "n",
        "a",
        "b",
        "t",
        (2.0 * F.col("y") - (F.col("a") + F.col("b") * F.col("t"))).alias(
            "zv"
        ),
    )
    zlist = (
        zed.select(
            "grp", "n", "a", "b", F.struct("t", "zv").alias("s")
        )
        .groupBy("grp", "n", "a", "b")
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")),
                lambda x: x.getField("zv"),
            ).alias("z")
        )
    )
    ses = zlist.select(
        "grp",
        "n",
        "a",
        "b",
        F.aggregate(
            F.slice(F.col("z"), 2, F.size("z") - 1),
            F.element_at(F.col("z"), 1),
            lambda acc, x: 0.5 * x + 0.5 * acc,
        ).alias("l"),
    )
    return ses.select(
        "grp",
        F.col("n").alias("n_days"),
        F.round("b", 6).alias("trend_slope_r"),
        F.round("l", 6).alias("ses_level_r"),
        F.round(
            0.5 * F.col("l")
            + 0.5 * (F.col("a") + F.col("b") * (F.col("n") + 1)),
            6,
        ).alias("forecast_1_r"),
        F.round(
            0.5 * F.col("l")
            + 0.5 * (F.col("a") + F.col("b") * (F.col("n") + 14)),
            6,
        ).alias("forecast_14_r"),
    ).orderBy("grp")


@query(
    "a161_apriori_triples",
    oracle="""
WITH sup AS (
  SELECT GREATEST(3, (SELECT COUNT(*) FROM orders) // 5000) AS ms
), items0 AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey % 32 AS i FROM lineitem
), capped AS (
  SELECT o, i FROM (
    SELECT o, i, ROW_NUMBER() OVER (PARTITION BY o ORDER BY i) AS rn
    FROM items0
  ) WHERE rn <= 12
), freq1 AS (
  SELECT i FROM capped CROSS JOIN sup
  GROUP BY i, ms HAVING COUNT(*) >= ms
), itf AS (
  SELECT c.o, c.i FROM capped c JOIN freq1 f ON f.i = c.i
), pair_in AS (
  SELECT a.o, a.i AS x, b.i AS y
  FROM itf a JOIN itf b ON a.o = b.o AND a.i < b.i
), freq2 AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS sup2
  FROM pair_in CROSS JOIN sup
  GROUP BY x, y, ms HAVING COUNT(*) >= ms
), pin2 AS (
  SELECT p.o, p.x, p.y FROM pair_in p JOIN freq2 f
    ON f.x = p.x AND f.y = p.y
), cand AS (
  SELECT ab.o, ab.x AS i, ab.y AS j, bc.y AS k
  FROM pin2 ab JOIN pin2 bc ON bc.o = ab.o AND bc.x = ab.y
), tri AS (
  SELECT c.i, c.j, c.k, CAST(COUNT(*) AS BIGINT) AS support
  FROM cand c JOIN freq2 f ON f.x = c.i AND f.y = c.k
  CROSS JOIN sup
  GROUP BY c.i, c.j, c.k, ms HAVING COUNT(*) >= ms
)
SELECT i AS cat_a, j AS cat_b, k AS cat_c, support
FROM tri ORDER BY support DESC, cat_a, cat_b, cat_c LIMIT 20
""",
)
def a161_apriori_triples(spark, sf_dir):
    """Frequent 3-itemset mining with Apriori candidate pruning over
    order baskets at the 32-way part-category level (raw part keys
    co-occur at most once in this catalog — category mining is what
    scales): baskets are capped at their 12 smallest categories
    (hot-basket discipline — C(12,3) bounds per-order work at 220),
    singletons then pairs are support-filtered BEFORE the next
    candidate generation (min support = max(3, |orders|/5000), scale-
    relative), and triples are assembled only from two frequent
    in-order pairs sharing the middle item plus a frequent (i,k)
    closure check — the downward-closure property that makes
    association mining feasible at 100 TB (never enumerates C(n,3)).
    Top 20 by support, deterministic key tie-break."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    ms_df = orders.agg(
        F.greatest(F.lit(3).cast("bigint"), F.expr("COUNT(*) div 5000"))
        .alias("ms")
    )
    items0 = li.select(
        F.col("l_orderkey").alias("o"),
        (F.col("l_partkey") % 32).alias("i"),
    ).distinct()
    capped = (
        items0.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("o").orderBy("i")),
        )
        .filter(F.col("rn") <= 12)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    freq1 = (
        capped.crossJoin(F.broadcast(ms_df))
        .groupBy("i", "ms")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= F.col("ms"))
        .select("i")
    )
    itf = capped.join(freq1, "i").select("o", "i").localCheckpoint(
        eager=False
    )
    a, b = itf.alias("a"), itf.alias("b")
    pair_in = a.join(
        b,
        (F.col("a.o") == F.col("b.o")) & (F.col("a.i") < F.col("b.i")),
    ).select(
        F.col("a.o").alias("o"),
        F.col("a.i").alias("x"),
        F.col("b.i").alias("y"),
    ).localCheckpoint(eager=False)
    freq2 = (
        pair_in.crossJoin(F.broadcast(ms_df))
        .groupBy("x", "y", "ms")
        .agg(F.count("*").cast("bigint").alias("sup2"))
        .filter(F.col("sup2") >= F.col("ms"))
        .select("x", "y")
        .localCheckpoint(eager=False)
    )
    pin2 = pair_in.join(freq2, ["x", "y"]).select("o", "x", "y")
    ab, bc = pin2.alias("ab"), pin2.alias("bc")
    cand = ab.join(
        bc,
        (F.col("bc.o") == F.col("ab.o")) & (F.col("bc.x") == F.col("ab.y")),
    ).select(
        F.col("ab.o").alias("o"),
        F.col("ab.x").alias("i"),
        F.col("ab.y").alias("j"),
        F.col("bc.y").alias("k"),
    )
    tri = (
        cand.join(
            freq2.select(
                F.col("x").alias("i"), F.col("y").alias("k")
            ),
            ["i", "k"],
        )
        .crossJoin(F.broadcast(ms_df))
        .groupBy("i", "j", "k", "ms")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= F.col("ms"))
    )
    return (
        tri.select(
            F.col("i").alias("cat_a"),
            F.col("j").alias("cat_b"),
            F.col("k").alias("cat_c"),
            "support",
        )
        .orderBy(
            F.col("support").desc(), "cat_a", "cat_b", "cat_c"
        )
        .limit(20)
    )


@query(
    "a162_eoq_safety_stock",
    oracle="""
WITH span AS (
  SELECT CAST(date_diff('day', MIN(CAST(l_shipdate AS DATE)),
                        MAX(CAST(l_shipdate AS DATE))) + 1 AS BIGINT)
           AS days
  FROM lineitem
), per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS q_cq
  FROM lineitem GROUP BY l_partkey
  ORDER BY q_cq DESC, l_partkey LIMIT 25
), daily AS (
  SELECT l.l_partkey, CAST(l.l_shipdate AS DATE) AS d,
         CAST(SUM(CAST(ROUND(l.l_quantity * 100.0, 0) AS BIGINT))
              AS BIGINT) AS qd
  FROM lineitem l JOIN per_part p ON p.l_partkey = l.l_partkey
  GROUP BY 1, 2
), mom AS (
  SELECT p.l_partkey, p.q_cq, MAX(s.days) AS days,
         CAST(SUM(d.qd * d.qd) AS BIGINT) AS s2
  FROM per_part p JOIN daily d ON d.l_partkey = p.l_partkey
  CROSS JOIN span s
  GROUP BY p.l_partkey, p.q_cq
), calc AS (
  SELECT l_partkey, days,
         CAST(q_cq AS DOUBLE) / 100.0 AS d_total,
         CAST(q_cq AS DOUBLE) / 100.0 / days AS d_daily,
         SQRT(CAST(s2 AS DOUBLE) / 10000.0 / days
              - (CAST(q_cq AS DOUBLE) / 100.0 / days)
                * (CAST(q_cq AS DOUBLE) / 100.0 / days)) AS sd_daily
  FROM mom
)
SELECT l_partkey,
       round(d_daily, 6) AS d_daily_r,
       round(SQRT(2.0 * (d_total * 365.0 / days) * 100.0 / 2.0), 6)
         AS eoq_r,
       round(1.645 * sd_daily * SQRT(7.0), 6) AS safety_stock_r,
       round(d_daily * 7.0 + 1.645 * sd_daily * SQRT(7.0), 6)
         AS reorder_point_r
FROM calc ORDER BY l_partkey
""",
)
def a162_eoq_safety_stock(spark, sf_dir):
    """Inventory planning panel for the 25 highest-volume parts: EOQ =
    √(2·D_annual·S/H) (order cost S=$100, holding H=$2/unit-yr) plus
    95% safety stock 1.645·σ_daily·√LT and the reorder point for a
    7-day lead time. Daily demand variance treats inactive days as
    zero demand (moments over the calendar span: Σq and Σq² are exact
    centiquantity BIGINTs, the zero days contribute nothing to either
    sum, and n = span days); sqrt runs once per part. At 100 TB: one
    lineitem fold for the top-25, one (part, day) fold for the
    variance — both map-side combinable."""
    li = table(spark, sf_dir, "lineitem")
    qcq = F.sum(money("l_quantity")).cast("bigint")
    span = li.agg(
        (
            F.datediff(
                F.max(F.to_date("l_shipdate")), F.min(F.to_date("l_shipdate"))
            )
            + 1
        )
        .cast("bigint")
        .alias("days")
    )
    per_part = (
        li.groupBy("l_partkey")
        .agg(qcq.alias("q_cq"))
        .orderBy(F.col("q_cq").desc(), "l_partkey")
        .limit(25)
        .localCheckpoint(eager=False)
    )
    daily = (
        li.join(F.broadcast(per_part.select("l_partkey")), "l_partkey")
        .groupBy("l_partkey", F.to_date("l_shipdate").alias("d"))
        .agg(qcq.alias("qd"))
    )
    mom = (
        per_part.join(daily, "l_partkey")
        .crossJoin(F.broadcast(span))
        .groupBy("l_partkey", "q_cq")
        .agg(
            F.max("days").alias("days"),
            F.sum(F.col("qd") * F.col("qd")).cast("bigint").alias("s2"),
        )
    )
    daysD = F.col("days").cast("double")
    d_total = F.col("q_cq").cast("double") / 100.0
    d_daily = d_total / daysD
    sd_daily = F.sqrt(
        F.col("s2").cast("double") / 10000.0 / daysD - d_daily * d_daily
    )
    return mom.select(
        "l_partkey",
        F.round(d_daily, 6).alias("d_daily_r"),
        F.round(
            F.sqrt(2.0 * (d_total * 365.0 / daysD) * 100.0 / 2.0), 6
        ).alias("eoq_r"),
        F.round(1.645 * sd_daily * F.sqrt(F.lit(7.0)), 6).alias(
            "safety_stock_r"
        ),
        F.round(
            d_daily * 7.0 + 1.645 * sd_daily * F.sqrt(F.lit(7.0)), 6
        ).alias("reorder_point_r"),
    ).orderBy("l_partkey")


@query(
    "a163_kelly_criterion",
    oracle="""
WITH t AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS xc
  FROM orders
), g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xc) AS BIGINT) AS s
         FROM t),
cls AS (
  SELECT t.grp, t.xc, g.n, g.s,
         CASE WHEN t.xc * g.n > g.s THEN 1 ELSE 0 END AS win
  FROM t CROSS JOIN g
), agg AS (
  SELECT grp, MAX(n) AS n_all, MAX(s) AS s_all,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(win) AS BIGINT) AS wins,
         CAST(SUM(CASE WHEN win = 1 THEN xc ELSE 0 END) AS BIGINT) AS sw,
         CAST(SUM(CASE WHEN win = 0 THEN xc ELSE 0 END) AS BIGINT) AS sl
  FROM cls GROUP BY grp
), k AS (
  SELECT grp, n, wins,
         CAST(wins AS DOUBLE) / n AS p,
         (CAST(sw AS DOUBLE) - CAST(wins AS DOUBLE) * s_all / n_all)
           / ((CAST(n AS DOUBLE) - wins) * (CAST(s_all AS DOUBLE) / n_all)
              - sl) AS b
  FROM agg
)
SELECT grp, n, wins,
       round(p, 6) AS win_prob_r,
       round(b, 6) AS payoff_ratio_r,
       round(p - (1.0 - p) / b, 6) AS kelly_fraction_r
FROM k ORDER BY grp
""",
)
def a163_kelly_criterion(spark, sf_dir):
    """Kelly optimal bet fraction f* = p − q/b per order priority,
    treating each order as a bet against the GLOBAL mean ticket: a win
    is an order strictly above the mean (decided by the EXACT integer
    cross-multiplication xc·n > Σxc — no float compare), b is the
    average win excess over the average loss shortfall (both linear in
    exact cent sums, evaluated as terminal doubles so nothing
    overflows at any sf). The position-sizing summary a risk engine
    would feed from a142's return panel. At 100 TB: one global fold
    broadcast against one per-group fold."""
    t = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        money("o_totalprice").alias("xc"),
    )
    g = t.agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("xc").cast("bigint").alias("s_all"),
    )
    cls = t.crossJoin(F.broadcast(g)).select(
        "grp",
        "xc",
        "n_all",
        "s_all",
        F.when(F.col("xc") * F.col("n_all") > F.col("s_all"), 1)
        .otherwise(0)
        .alias("win"),
    )
    agg = cls.groupBy("grp").agg(
        F.max("n_all").alias("n_all"),
        F.max("s_all").alias("s_all"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("win").cast("bigint").alias("wins"),
        F.sum(F.when(F.col("win") == 1, F.col("xc")).otherwise(0))
        .cast("bigint")
        .alias("sw"),
        F.sum(F.when(F.col("win") == 0, F.col("xc")).otherwise(0))
        .cast("bigint")
        .alias("sl"),
    )
    nD = F.col("n").cast("double")
    mean_all = F.col("s_all").cast("double") / F.col("n_all")
    p = F.col("wins").cast("double") / F.col("n")
    b = (F.col("sw").cast("double") - F.col("wins").cast("double") * mean_all) / (
        (nD - F.col("wins")) * mean_all - F.col("sl")
    )
    return agg.select(
        "grp",
        "n",
        "wins",
        F.round(p, 6).alias("win_prob_r"),
        F.round(b, 6).alias("payoff_ratio_r"),
        F.round(p - (1.0 - p) / b, 6).alias("kelly_fraction_r"),
    ).orderBy("grp")


@query(
    "a164_sttr_text_richness",
    oracle="""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok,
           generate_subscripts(
             regexp_split_to_array(lower(text), '\\s+'), 1) - 1 AS pos
    FROM documents
  ) AS t(doc_id, tok, pos)
  WHERE t.tok <> ''
), blocks AS (
  SELECT doc_id, pos // 20 AS blk,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY doc_id, blk
), full_blocks AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(n_types) AS BIGINT) AS s_types
  FROM blocks WHERE n_tokens = 20
  GROUP BY doc_id HAVING COUNT(*) >= 2
)
SELECT doc_id, n_blocks,
       round(CAST(s_types AS DOUBLE) / (20.0 * n_blocks), 6) AS sttr_r
FROM full_blocks
ORDER BY sttr_r DESC, doc_id LIMIT 20
""",
)
def a164_sttr_text_richness(spark, sf_dir):
    """Standardized type–token ratio (Johnson's STTR): lexical
    richness as the mean TTR over consecutive FULL 20-token blocks
    (fixture docs run 10–99 tokens; the classic 100-token window would
    never fill), which — unlike raw TTR — is comparable across
    documents of different lengths. Tokens are whitespace-split
    lowercase; partial trailing blocks are excluded, docs need ≥ 2
    full blocks. The
    per-block distinct count is an exact integer, so the only float
    is one terminal division per doc. Top 20 richest docs with
    deterministic tie-break. At 100 TB: explode is linear in corpus
    tokens, the distinct runs per (doc, block) key — embarrassingly
    parallel, no cross-doc state."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), r"\s+")).alias(
                "pos", "tok"
            ),
        )
        .filter(F.col("tok") != "")
    )
    blocks = toks.groupBy(
        "doc_id", F.expr("pos div 20").alias("blk")
    ).agg(
        F.countDistinct("tok").cast("bigint").alias("n_types"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    full_blocks = (
        blocks.filter(F.col("n_tokens") == 20)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum("n_types").cast("bigint").alias("s_types"),
        )
        .filter(F.col("n_blocks") >= 2)
    )
    return (
        full_blocks.select(
            "doc_id",
            "n_blocks",
            F.round(
                F.col("s_types").cast("double") / (20.0 * F.col("n_blocks")),
                6,
            ).alias("sttr_r"),
        )
        .orderBy(F.col("sttr_r").desc(), "doc_id")
        .limit(20)
    )


@query(
    "a165_dunn_posthoc",
    oracle="""
WITH t AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS xc
  FROM orders
), vals AS (
  SELECT xc, grp, CAST(COUNT(*) AS BIGINT) AS cg FROM t GROUP BY xc, grp
), hist AS (
  SELECT xc, CAST(SUM(cg) AS BIGINT) AS g FROM vals GROUP BY xc
), ranked AS (
  SELECT xc, g,
         CAST(2 * COALESCE(SUM(g) OVER (ORDER BY xc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + g + 1 AS BIGINT) AS dr
  FROM hist
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS nn,
         CAST(SUM(g * g * g - g) AS BIGINT) AS ties
  FROM hist
), per_grp AS (
  SELECT v.grp,
         CAST(SUM(v.cg) AS BIGINT) AS ng,
         CAST(SUM(v.cg * r.dr) AS BIGINT) AS sdr
  FROM vals v JOIN ranked r ON r.xc = v.xc
  GROUP BY v.grp
), pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b,
         a.ng AS na, b.ng AS nb,
         CAST(a.sdr AS DOUBLE) / (2.0 * a.ng)
           - CAST(b.sdr AS DOUBLE) / (2.0 * b.ng) AS rdiff,
         t.nn, t.ties
  FROM per_grp a JOIN per_grp b ON a.grp < b.grp
  CROSS JOIN tot t
)
SELECT grp_a, grp_b,
       round(rdiff
             / SQRT((CAST(nn AS DOUBLE) * (nn + 1) / 12.0
                     - CAST(ties AS DOUBLE) / (12.0 * (nn - 1)))
                    * (1.0 / na + 1.0 / nb)), 6) AS dunn_z_r,
       CAST(CASE WHEN ABS(rdiff
             / SQRT((CAST(nn AS DOUBLE) * (nn + 1) / 12.0
                     - CAST(ties AS DOUBLE) / (12.0 * (nn - 1)))
                    * (1.0 / na + 1.0 / nb))) > 2.8070337683438042
            THEN 1 ELSE 0 END AS BIGINT) AS significant_bonf
FROM pairs ORDER BY grp_a, grp_b
""",
)
def a165_dunn_posthoc(spark, sf_dir):
    """Dunn's post-hoc pairwise rank test (the follow-up to a106's
    Kruskal–Wallis omnibus) across the five order priorities, with the
    tie-corrected variance N(N+1)/12 − Σ(t³−t)/(12(N−1)) and Bonferroni
    gating at α=0.05/(2·10) (the z cutoff 2.80703… embedded as an
    identical literal in both plans). Mean ranks come from the
    doubled-midrank histogram (exact BIGINT Σc·dr, halved once in the
    terminal double), tie mass from Σ(g³−g) over the value histogram —
    no pairwise row joins, only a 5×5 group-pair cross. At 100 TB: one
    (value, group) fold + one value window."""
    t = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        money("o_totalprice").alias("xc"),
    )
    vals = t.groupBy("xc", "grp").agg(
        F.count("*").cast("bigint").alias("cg")
    ).localCheckpoint(eager=False)
    hist = vals.groupBy("xc").agg(F.sum("cg").cast("bigint").alias("g"))
    wv = Window.orderBy("xc").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "xc",
        "g",
        (2 * F.coalesce(F.sum("g").over(wv), F.lit(0)) + F.col("g") + 1)
        .cast("bigint")
        .alias("dr"),
    )
    tot = hist.agg(
        F.sum("g").cast("bigint").alias("nn"),
        F.sum(F.col("g") * F.col("g") * F.col("g") - F.col("g"))
        .cast("bigint")
        .alias("ties"),
    )
    per_grp = (
        vals.join(ranked.select("xc", "dr"), "xc")
        .groupBy("grp")
        .agg(
            F.sum("cg").cast("bigint").alias("ng"),
            F.sum(F.col("cg") * F.col("dr")).cast("bigint").alias("sdr"),
        )
    )
    a, b = per_grp.alias("a"), per_grp.alias("b")
    pairs = (
        a.join(b, F.col("a.grp") < F.col("b.grp"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a.grp").alias("grp_a"),
            F.col("b.grp").alias("grp_b"),
            F.col("a.ng").alias("na"),
            F.col("b.ng").alias("nb"),
            (
                F.col("a.sdr").cast("double") / (2.0 * F.col("a.ng"))
                - F.col("b.sdr").cast("double") / (2.0 * F.col("b.ng"))
            ).alias("rdiff"),
            "nn",
            "ties",
        )
    )
    nnD = F.col("nn").cast("double")
    z = F.col("rdiff") / F.sqrt(
        (
            nnD * (F.col("nn") + 1) / 12.0
            - F.col("ties").cast("double") / (12.0 * (F.col("nn") - 1))
        )
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        F.round(z, 6).alias("dunn_z_r"),
        F.when(F.abs(z) > 2.8070337683438042, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("significant_bonf"),
    ).orderBy("grp_a", "grp_b")


@query(
    "a166_mmd_poly",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'treat' ELSE 'ctrl' END
           AS arm,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) // 100000
              AS BIGINT) AS x
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY user_id, CASE WHEN event_type = 'purchase' THEN 'treat'
                         ELSE 'ctrl' END
), s AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         CAST(SUM(x * x * x * x) AS BIGINT) AS s4
  FROM obs GROUP BY arm
), w AS (
  SELECT
    MAX(CASE WHEN arm = 'treat' THEN n END) AS nx,
    MAX(CASE WHEN arm = 'treat' THEN s1 END) AS x1,
    MAX(CASE WHEN arm = 'treat' THEN s2 END) AS x2,
    MAX(CASE WHEN arm = 'treat' THEN s4 END) AS x4,
    MAX(CASE WHEN arm = 'ctrl' THEN n END) AS ny,
    MAX(CASE WHEN arm = 'ctrl' THEN s1 END) AS y1,
    MAX(CASE WHEN arm = 'ctrl' THEN s2 END) AS y2,
    MAX(CASE WHEN arm = 'ctrl' THEN s4 END) AS y4
  FROM s
), e AS (
  SELECT nx, ny,
         1.0 + 2.0 / 100.0 * (CAST(x1 AS DOUBLE) * x1 - x2)
             / (CAST(nx AS DOUBLE) * (nx - 1))
             + 1.0 / 10000.0 * (CAST(x2 AS DOUBLE) * x2 - x4)
               / (CAST(nx AS DOUBLE) * (nx - 1)) AS kxx,
         1.0 + 2.0 / 100.0 * (CAST(y1 AS DOUBLE) * y1 - y2)
             / (CAST(ny AS DOUBLE) * (ny - 1))
             + 1.0 / 10000.0 * (CAST(y2 AS DOUBLE) * y2 - y4)
               / (CAST(ny AS DOUBLE) * (ny - 1)) AS kyy,
         1.0 + 2.0 / 100.0 * (CAST(x1 AS DOUBLE) / nx)
                           * (CAST(y1 AS DOUBLE) / ny)
             + 1.0 / 10000.0 * (CAST(x2 AS DOUBLE) / nx)
                             * (CAST(y2 AS DOUBLE) / ny) AS kxy
  FROM w
)
SELECT nx AS n_treat, ny AS n_ctrl,
       round(kxx, 6) AS e_kxx_r,
       round(kyy, 6) AS e_kyy_r,
       round(kxy, 6) AS e_kxy_r,
       round(kxx + kyy - 2.0 * kxy, 6) AS mmd2_r
FROM e
""",
)
def a166_mmd_poly(spark, sf_dir):
    """Maximum Mean Discrepancy between treat/ctrl per-user engagement
    (kilodollar sums) under the degree-2 polynomial kernel
    k(x,y) = (1 + xy/100)² — for which MMD² reduces EXACTLY to moment
    differences: E[k] terms expand into products of Σx, Σx², Σx⁴ (all
    exact BIGINTs; the U-statistic within-sample terms use the
    unbiased (Σ²−Σ of squares)/(n(n−1)) form), so the famously
    pair-quadratic statistic costs one grouped fold. A positive MMD²
    certifies the two engagement distributions differ through order-2
    moments; kernels beyond polynomial would need the pairwise path.
    At 100 TB: one map-side-combined aggregate, scalar math after."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    obs = ev.groupBy(
        "user_id",
        F.when(F.col("event_type") == "purchase", "treat")
        .otherwise("ctrl")
        .alias("arm"),
    ).agg(
        money_units("value", 100000).alias("x")
    )
    s = obs.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("s4"),
    )

    def pick(arm, col):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    w = s.agg(
        pick("treat", "n").alias("nx"),
        pick("treat", "s1").alias("x1"),
        pick("treat", "s2").alias("x2"),
        pick("treat", "s4").alias("x4"),
        pick("ctrl", "n").alias("ny"),
        pick("ctrl", "s1").alias("y1"),
        pick("ctrl", "s2").alias("y2"),
        pick("ctrl", "s4").alias("y4"),
    )

    def within(n, s1, s2, s4):
        nD = F.col(n).cast("double")
        return (
            1.0
            + 2.0 / 100.0
            * (F.col(s1).cast("double") * F.col(s1) - F.col(s2))
            / (nD * (F.col(n) - 1))
            + 1.0 / 10000.0
            * (F.col(s2).cast("double") * F.col(s2) - F.col(s4))
            / (nD * (F.col(n) - 1))
        )

    kxy = (
        1.0
        + 2.0 / 100.0
        * (F.col("x1").cast("double") / F.col("nx"))
        * (F.col("y1").cast("double") / F.col("ny"))
        + 1.0 / 10000.0
        * (F.col("x2").cast("double") / F.col("nx"))
        * (F.col("y2").cast("double") / F.col("ny"))
    )
    e = w.select(
        "nx",
        "ny",
        within("nx", "x1", "x2", "x4").alias("kxx"),
        within("ny", "y1", "y2", "y4").alias("kyy"),
        kxy.alias("kxy"),
    )
    return e.select(
        F.col("nx").alias("n_treat"),
        F.col("ny").alias("n_ctrl"),
        F.round("kxx", 6).alias("e_kxx_r"),
        F.round("kyy", 6).alias("e_kyy_r"),
        F.round("kxy", 6).alias("e_kxy_r"),
        F.round(
            F.col("kxx") + F.col("kyy") - 2.0 * F.col("kxy"), 6
        ).alias("mmd2_r"),
    )


@query(
    "a167_lorenz_asymmetry",
    oracle="""
WITH t AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS xc
  FROM orders
), g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xc) AS BIGINT) AS s
  FROM t GROUP BY grp
), below AS (
  SELECT t.grp,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(t.xc) AS BIGINT) AS sm
  FROM t JOIN g ON g.grp = t.grp
  WHERE t.xc * g.n <= g.s
  GROUP BY t.grp
)
SELECT g.grp,
       round(CAST(b.m AS DOUBLE) / g.n, 6) AS f_mu_r,
       round(CAST(b.sm AS DOUBLE) / g.s, 6) AS l_mu_r,
       round(CAST(b.m AS DOUBLE) / g.n + CAST(b.sm AS DOUBLE) / g.s, 6)
         AS lorenz_asymmetry_r
FROM g JOIN below b ON b.grp = g.grp
ORDER BY g.grp
""",
)
def a167_lorenz_asymmetry(spark, sf_dir):
    """Lorenz asymmetry coefficient S = F(μ) + L(μ) per order priority
    (Damgaard & Weiner 1998): which SIDE of the Lorenz curve carries
    the inequality that q299's Gini only sizes — S < 1 means many
    small orders, S > 1 means a few dominant ones. The ≤μ membership
    is decided by the exact integer cross-multiplication xc·n ≤ Σxc
    (the step-function convention, documented; no interpolation term),
    so F and L are ratios of exact BIGINTs with two terminal
    divisions. At 100 TB: two grouped folds over orders, no sort."""
    t = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        money("o_totalprice").alias("xc"),
    )
    g = t.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s"),
    )
    below = (
        t.join(F.broadcast(g), "grp")
        .filter(F.col("xc") * F.col("n") <= F.col("s"))
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("m"),
            F.sum("xc").cast("bigint").alias("sm"),
        )
    )
    j = g.join(below, "grp")
    f_mu = F.col("m").cast("double") / F.col("n")
    l_mu = F.col("sm").cast("double") / F.col("s")
    return j.select(
        "grp",
        F.round(f_mu, 6).alias("f_mu_r"),
        F.round(l_mu, 6).alias("l_mu_r"),
        F.round(f_mu + l_mu, 6).alias("lorenz_asymmetry_r"),
    ).orderBy("grp")


# Poisson(1) CDF thresholds scaled by 1e6 — identical literals in both
# plans; a 24-bit md5 slice mod 1e6 draws the deterministic uniform.
_POIS_CASE = (
    "CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1"
    " WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3"
    " WHEN u < 996340 THEN 4 ELSE 5 END"
)


@query(
    "a168_hash_bootstrap_se",
    oracle=f"""
WITH peruser AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS xc
  FROM events GROUP BY user_id
), reps AS (
  SELECT b FROM (SELECT unnest(generate_series(0, 31)) AS b)
), drawn AS (
  SELECT p.xc, r.b,
         ('0x' || substr(md5('bs|' || CAST(p.user_id AS VARCHAR) || '|'
                             || CAST(r.b AS VARCHAR)), 1, 6))::BIGINT
           % 1000000 AS u
  FROM peruser p CROSS JOIN reps r
), weighted AS (
  SELECT b,
         CAST(SUM(({_POIS_CASE}) * xc) AS BIGINT) AS sx,
         CAST(SUM({_POIS_CASE}) AS BIGINT) AS sw
  FROM drawn GROUP BY b
), means AS (
  SELECT CAST(ROUND(CAST(sx AS DOUBLE) / sw / 100.0 * 1000.0, 0)
              AS BIGINT) AS mq
  FROM weighted
), boot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS bb,
         CAST(SUM(mq) AS BIGINT) AS s1,
         CAST(SUM(mq * mq) AS BIGINT) AS s2
  FROM means
), pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(xc) AS BIGINT) AS sxc
  FROM peruser
)
SELECT p.n_users,
       round(CAST(p.sxc AS DOUBLE) / p.n_users / 100.0, 6) AS mean_r,
       round(SQRT((CAST(b.s2 AS DOUBLE)
                   - CAST(b.s1 AS DOUBLE) * b.s1 / b.bb)
                  / (b.bb - 1)) / 1000.0, 6) AS boot_se_r
FROM pt p CROSS JOIN boot b
""",
)
def a168_hash_bootstrap_se(spark, sf_dir):
    """Bootstrap standard error of mean per-user engagement WITHOUT
    randomness: a deterministic Poisson(1) bootstrap (the streaming/
    distributed bootstrap standard — resample counts are iid
    Poisson(1)) where each of the 32 replicate weights comes from an
    md5 hash of (user, replicate) against the embedded Poisson CDF
    thresholds — both engines draw IDENTICAL resamples, so the whole
    Monte Carlo procedure is hash-checkable. Replicate means are
    milli-quantized to exact BIGINTs before the 32-value variance
    fold (micro would overflow the squared sums for dollar-scale
    means). At 100 TB: one per-user fold, a ×32 literal fan-out, one
    grouped sum per replicate — no data ever leaves the executors."""
    peruser = table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.sum(money("value"))
        .cast("bigint")
        .alias("xc")
    )
    reps = spark.range(32).select(F.col("id").alias("b"))
    u = (
        md5_bits(
            F.concat(
                F.lit("bs|"),
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            ),
            6,
        )
        % 1000000
    )
    drawn = peruser.crossJoin(F.broadcast(reps)).select(
        "xc", "b", u.alias("u")
    )
    w = F.expr(_POIS_CASE)
    weighted = drawn.groupBy("b").agg(
        F.sum(w * F.col("xc")).cast("bigint").alias("sx"),
        F.sum(w).cast("bigint").alias("sw"),
    )
    means = weighted.select(
        money(F.col("sx").cast("double") / F.col("sw") / 100.0, 3).alias("mq")
    )
    boot = means.agg(
        F.count("*").cast("bigint").alias("bb"),
        F.sum("mq").cast("bigint").alias("s1"),
        F.sum(F.col("mq") * F.col("mq")).cast("bigint").alias("s2"),
    )
    pt = peruser.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("xc").cast("bigint").alias("sxc"),
    )
    se = (
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("bb")
            )
            / (F.col("bb") - 1)
        )
        / 1e3
    )
    return pt.crossJoin(F.broadcast(boot)).select(
        "n_users",
        F.round(
            F.col("sxc").cast("double") / F.col("n_users") / 100.0, 6
        ).alias("mean_r"),
        F.round(se, 6).alias("boot_se_r"),
    )


@query(
    "a169_growth_accounting",
    oracle="""
WITH wk AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
), marked AS (
  SELECT user_id, w,
         MIN(w) OVER (PARTITION BY user_id) AS first_w,
         LAG(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w
  FROM wk
), cls AS (
  SELECT w,
         CAST(SUM(CASE WHEN w = first_w THEN 1 ELSE 0 END) AS BIGINT)
           AS new_u,
         CAST(SUM(CASE WHEN prev_w = w - INTERVAL 7 DAY THEN 1 ELSE 0 END)
              AS BIGINT) AS retained_u,
         CAST(SUM(CASE WHEN w <> first_w
                        AND (prev_w IS NULL
                             OR prev_w < w - INTERVAL 7 DAY)
                       THEN 1 ELSE 0 END) AS BIGINT) AS resurrected_u,
         CAST(COUNT(*) AS BIGINT) AS active_u
  FROM marked GROUP BY w
), flow AS (
  SELECT w, new_u, retained_u, resurrected_u, active_u,
         CAST(LAG(active_u) OVER (ORDER BY w) - retained_u AS BIGINT)
           AS churned_u
  FROM cls
)
SELECT w AS week_start, active_u, new_u, retained_u, resurrected_u,
       churned_u,
       round(CAST(new_u + resurrected_u AS DOUBLE)
             / NULLIF(churned_u, 0), 6) AS quick_ratio_r
FROM flow WHERE churned_u IS NOT NULL
ORDER BY week_start
""",
)
def a169_growth_accounting(spark, sf_dir):
    """Weekly user growth accounting (the Social-Capital framework):
    every active (user, week) is classified as NEW (first week ever),
    RETAINED (active the immediately preceding week) or RESURRECTED
    (returning after a gap), churn for week w is last week's actives
    minus this week's retained, and the quick ratio
    (new+resurrected)/churned summarizes growth quality. Pure integer
    set arithmetic from one distinct + two windows — the weekly labels
    a q267-style churn model trains on. At 100 TB: one distinct on
    (user, week), one shuffle on user for the lag, one tiny week
    window."""
    ev = table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    wu = Window.partitionBy("user_id")
    marked = wk.select(
        "user_id",
        "w",
        F.min("w").over(wu).alias("first_w"),
        F.lag("w").over(wu.orderBy("w")).alias("prev_w"),
    )
    cls = marked.groupBy("w").agg(
        F.sum(F.when(F.col("w") == F.col("first_w"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_u"),
        F.sum(
            F.when(F.col("prev_w") == F.date_sub(F.col("w"), 7), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("retained_u"),
        F.sum(
            F.when(
                (F.col("w") != F.col("first_w"))
                & (
                    F.col("prev_w").isNull()
                    | (F.col("prev_w") < F.date_sub(F.col("w"), 7))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("resurrected_u"),
        F.count("*").cast("bigint").alias("active_u"),
    )
    flow = cls.select(
        "*",
        (F.lag("active_u").over(Window.orderBy("w")) - F.col("retained_u"))
        .cast("bigint")
        .alias("churned_u"),
    ).filter(F.col("churned_u").isNotNull())
    return flow.select(
        F.col("w").alias("week_start"),
        "active_u",
        "new_u",
        "retained_u",
        "resurrected_u",
        "churned_u",
        F.round(
            (F.col("new_u") + F.col("resurrected_u")).cast("double")
            / F.nullif(F.col("churned_u"), F.lit(0)),
            6,
        ).alias("quick_ratio_r"),
    ).orderBy("week_start")


@query(
    "a170_approx_percentile_audit",
    oracle="""
WITH t AS (
  SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS xc
  FROM orders
), n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
qs AS (
  SELECT CAST(q AS DOUBLE) AS q
  FROM (VALUES (0.5), (0.9), (0.99)) AS q(q)
), targets AS (
  SELECT q.q, CAST(CEIL(q.q * n.n) AS BIGINT) AS i, n.n,
         GREATEST(1, n.n // 10000) AS tol
  FROM qs q CROSS JOIN n_all n
), exact AS (
  SELECT tg.q, tg.n, tg.tol,
         MAX(CASE WHEN r.rn = tg.i THEN r.xc END) AS exact_cents
  FROM (SELECT xc, ROW_NUMBER() OVER (ORDER BY xc) AS rn FROM t) r
  JOIN targets tg ON r.rn = tg.i
  GROUP BY tg.q, tg.n, tg.tol
)
SELECT q, n AS n_orders, exact_cents,
       CAST(1 AS BIGINT) AS sketch_within_bound
FROM exact ORDER BY q
""",
)
def a170_approx_percentile_audit(spark, sf_dir):
    """Accuracy audit of Spark's approx_percentile sketch
    (Greenwald–Khanna, accuracy parameter 10000 → rank error ≤
    n/10000) at q ∈ {0.5, 0.9, 0.99} over order totals: the sketch
    value's TRUE rank interval [count(<v)+1, count(≤v)] must overlap
    the target rank ±tolerance, and the emitted flag is 1 only then —
    the oracle asserts the guarantee holds (flag = 1) plus the exact
    order-statistic values, so a sketch regression breaks the hash
    loudly. This is the audit pattern of q266/a121 applied to the
    quantile sketch. At 100 TB: the sketch is one pass + constant
    memory; the audit adds one rank window."""
    t = table(spark, sf_dir, "orders").select(
        money("o_totalprice").alias("xc")
    ).localCheckpoint(eager=False)
    n_all = t.agg(F.count("*").cast("bigint").alias("n"))
    approx = t.agg(
        F.percentile_approx(
            "xc", [0.5, 0.9, 0.99], 10000
        ).alias("vs")
    ).select(
        F.posexplode("vs").alias("qi", "v")
    ).select(
        F.element_at(
            F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
            F.col("qi") + 1,
        ).alias("q"),
        "v",
    )
    targets = approx.crossJoin(F.broadcast(n_all)).select(
        "q",
        "v",
        "n",
        F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("i"),
        F.greatest(F.lit(1).cast("bigint"), F.expr("n div 10000")).alias(
            "tol"
        ),
    )
    ranks = (
        t.crossJoin(F.broadcast(targets))
        .groupBy("q", "n", "i", "tol")
        .agg(
            F.sum(F.when(F.col("xc") < F.col("v"), 1).otherwise(0))
            .cast("bigint")
            .alias("lo"),
            F.sum(F.when(F.col("xc") <= F.col("v"), 1).otherwise(0))
            .cast("bigint")
            .alias("hi"),
        )
    )
    ranked = t.select(
        "xc", F.row_number().over(Window.orderBy("xc")).alias("rn")
    )
    exact = ranks.join(
        ranked, ranks.i == ranked.rn
    ).select(
        "q",
        F.col("n").alias("n_orders"),
        F.col("xc").alias("exact_cents"),
        F.when(
            (F.col("lo") + 1 <= F.col("i") + F.col("tol"))
            & (F.col("hi") >= F.col("i") - F.col("tol")),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("sketch_within_bound"),
    )
    return exact.orderBy("q")


@query(
    "a171_ks_two_sample",
    oracle=f"""
WITH dranks AS ({_DRANK_SQL}),
cum AS (
  SELECT n1, n2,
         CAST(SUM(c1) OVER (ORDER BY xc) AS BIGINT) AS f1,
         CAST(SUM(g - c1) OVER (ORDER BY xc) AS BIGINT) AS f2
  FROM dranks
), sup AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2,
         MAX(ABS(f1 * n2 - f2 * n1)) AS dnum
  FROM cum GROUP BY n1
), k AS (
  SELECT n1, n2,
         CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2) AS d,
         CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
           * SQRT(CAST(n1 AS DOUBLE) * n2 / (CAST(n1 AS DOUBLE) + n2))
           AS lam
  FROM sup
)
SELECT n1, n2,
       round(d, 6) AS ks_d_r,
       round(2.0 * (EXP(-2.0 * lam * lam)
                    - EXP(-8.0 * lam * lam)
                    + EXP(-18.0 * lam * lam)), 6) AS p_approx_r
FROM k
""",
)
def a171_ks_two_sample(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov test on treat/ctrl per-user
    engagement — the distribution-level drift check the one-sample
    Lilliefors (a042) and k-sample Anderson–Darling (a047) family was
    missing. D = sup|F̂₁−F̂₂| is an EXACT integer maximum: both ECDFs
    step on the shared value histogram, so |f1·n2 − f2·n1| over one
    cumulative window decides the supremum with no float compare; the
    three-term Smirnov asymptotic p is a fixed-order scalar
    expression. Shares the doubled-rank histogram CTE with a157/a158.
    At 100 TB: one events fold + one value-ordered window."""
    dranks = _drank(spark, sf_dir)
    wv = Window.orderBy("xc").rowsBetween(Window.unboundedPreceding, 0)
    cum = dranks.select(
        "n1",
        "n2",
        F.sum("c1").over(wv).cast("bigint").alias("f1"),
        F.sum(F.col("g") - F.col("c1")).over(wv).cast("bigint").alias("f2"),
    )
    sup = cum.groupBy("n1").agg(
        F.max("n2").alias("n2"),
        F.max(
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        ).alias("dnum"),
    )
    n1D = F.col("n1").cast("double")
    d = F.col("dnum").cast("double") / (n1D * F.col("n2"))
    lam = d * F.sqrt(n1D * F.col("n2") / (n1D + F.col("n2")))
    k = sup.select("n1", "n2", d.alias("d"), lam.alias("lam"))
    ll = F.col("lam") * F.col("lam")
    return k.select(
        "n1",
        "n2",
        F.round("d", 6).alias("ks_d_r"),
        F.round(
            2.0
            * (
                F.exp(-2.0 * ll) - F.exp(-8.0 * ll) + F.exp(-18.0 * ll)
            ),
            6,
        ).alias("p_approx_r"),
    )


# Shared logistic expression text (identical on both engines): sigmoid
# of the linear predictor, micro-quantized per DISTINCT feature value.
_SIG = "1.0 / (1.0 + EXP(-(b0 + b1 * x)))"

_LOGIT_HIST_SQL = """
  SELECT x, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
  FROM (
    SELECT LEAST(u.n_ev // 4, 50) AS x,
           CASE WHEN u.pc * m.nu > m.s THEN 1 ELSE 0 END AS y
    FROM (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pc
      FROM events GROUP BY user_id
    ) u CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS nu, CAST(SUM(pc) AS BIGINT) AS s
      FROM (SELECT SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                            ELSE 0 END) AS pc
            FROM events GROUP BY user_id)
    ) m
  ) GROUP BY x
"""


def _logit_step_sql(prev: str) -> str:
    """One IRLS step as SQL text over the MATERIALIZED hist + previous
    beta CTE; sums are exact BIGINTs of 1e8-quantized sigmoid terms."""
    return f"""
  SELECT b.b0 + (CAST(s.s2 AS DOUBLE) * s.u0 - CAST(s.s1 AS DOUBLE) * s.u1)
               / (CAST(s.s0 AS DOUBLE) * s.s2
                  - CAST(s.s1 AS DOUBLE) * s.s1) AS b0,
         b.b1 + (CAST(s.s0 AS DOUBLE) * s.u1 - CAST(s.s1 AS DOUBLE) * s.u0)
               / (CAST(s.s0 AS DOUBLE) * s.s2
                  - CAST(s.s1 AS DOUBLE) * s.s1) AS b1
  FROM (
    SELECT CAST(SUM(n * wq) AS BIGINT) AS s0,
           CAST(SUM(n * wq * x) AS BIGINT) AS s1,
           CAST(SUM(n * wq * x * x) AS BIGINT) AS s2,
           CAST(SUM(sy * 100000000 - n * pq) AS BIGINT) AS u0,
           CAST(SUM((sy * 100000000 - n * pq) * x) AS BIGINT) AS u1
    FROM (
      SELECT h.x, h.n, h.sy,
             CAST(ROUND(({_SIG}) * 100000000.0, 0) AS BIGINT) AS pq,
             CAST(ROUND(({_SIG}) * (1.0 - ({_SIG})) * 100000000.0, 0)
                  AS BIGINT) AS wq
      FROM hist h CROSS JOIN {prev}
    )
  ) s CROSS JOIN {prev} b
"""


@query(
    "a172_logistic_irls",
    oracle=f"""
WITH hist AS MATERIALIZED ({_LOGIT_HIST_SQL}),
beta0 AS MATERIALIZED (
  SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1
),
beta1 AS MATERIALIZED ({_logit_step_sql("beta0")}),
beta2 AS MATERIALIZED ({_logit_step_sql("beta1")}),
beta3 AS MATERIALIZED ({_logit_step_sql("beta2")}),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_users,
               CAST(SUM(sy) AS BIGINT) AS n_pos FROM hist)
SELECT t.n_users, t.n_pos,
       round(b.b0, 6) AS intercept_r,
       round(b.b1, 6) AS coef_r,
       round(EXP(b.b1), 6) AS odds_ratio_r
FROM beta3 b CROSS JOIN tot t
""",
)
def a172_logistic_irls(spark, sf_dir):
    """Logistic regression (intercept + one bounded integer feature) by
    THREE unrolled IRLS/Newton steps — the GLM the monitoring batteries
    route around, made hash-checkable with the GMM-EM discipline: the
    feature x = min(events÷4, 50) takes ≤ 50 DISTINCT values, so the
    sigmoid runs once per (step, value) on identical doubles, is
    1e8-quantized, and every XᵀWX / Xᵀ(y−p) entry is an exact BIGINT
    histogram sum; the 2×2 solve is four terminal double ops per step.
    Step 1 is fully exact (σ(0)=½, w=¼). Label: user's purchase value
    above the population mean (exact cross-multiplication). At 100 TB:
    one events fold to a ≤50-row histogram; each IRLS step is
    constant-size math — the corpus is touched once."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_ev"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                money("value"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("pc"),
    )
    m = u.agg(
        F.count("*").cast("bigint").alias("nu"),
        F.sum("pc").cast("bigint").alias("s"),
    )
    hist = (
        u.crossJoin(F.broadcast(m))
        .select(
            F.least(F.expr("n_ev div 4"), F.lit(50).cast("bigint")).alias(
                "x"
            ),
            F.when(F.col("pc") * F.col("nu") > F.col("s"), 1)
            .otherwise(0)
            .alias("y"),
        )
        .groupBy("x")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("sy"),
        )
        .localCheckpoint(eager=True)
    )

    def step(beta):
        j = hist.crossJoin(F.broadcast(beta))
        sig = F.expr(_SIG)
        terms = j.select(
            "x",
            "n",
            "sy",
            "b0",
            "b1",
            money(sig, 8).alias("pq"),
            money(sig * (1.0 - sig), 8).alias("wq"),
        )
        s = terms.groupBy("b0", "b1").agg(
            F.sum(F.col("n") * F.col("wq")).cast("bigint").alias("s0"),
            F.sum(F.col("n") * F.col("wq") * F.col("x"))
            .cast("bigint")
            .alias("s1"),
            F.sum(F.col("n") * F.col("wq") * F.col("x") * F.col("x"))
            .cast("bigint")
            .alias("s2"),
            F.sum(F.col("sy") * F.lit(100000000) - F.col("n") * F.col("pq"))
            .cast("bigint")
            .alias("u0"),
            F.sum(
                (F.col("sy") * F.lit(100000000) - F.col("n") * F.col("pq"))
                * F.col("x")
            )
            .cast("bigint")
            .alias("u1"),
        )
        det = (
            F.col("s0").cast("double") * F.col("s2")
            - F.col("s1").cast("double") * F.col("s1")
        )
        return s.select(
            (
                F.col("b0")
                + (
                    F.col("s2").cast("double") * F.col("u0")
                    - F.col("s1").cast("double") * F.col("u1")
                )
                / det
            ).alias("b0"),
            (
                F.col("b1")
                + (
                    F.col("s0").cast("double") * F.col("u1")
                    - F.col("s1").cast("double") * F.col("u0")
                )
                / det
            ).alias("b1"),
        ).localCheckpoint(eager=True)

    beta = literal_frame(spark, [(0.0, 0.0)], "b0 double, b1 double")
    for _ in range(3):
        beta = step(beta)
    tot = hist.agg(
        F.sum("n").cast("bigint").alias("n_users"),
        F.sum("sy").cast("bigint").alias("n_pos"),
    )
    return beta.crossJoin(F.broadcast(tot)).select(
        "n_users",
        "n_pos",
        F.round("b0", 6).alias("intercept_r"),
        F.round("b1", 6).alias("coef_r"),
        F.round(F.exp("b1"), 6).alias("odds_ratio_r"),
    )


# Cox weight expression — identical text both engines; EXP runs once
# per (day, x) grid cell (both dimensions bounded), 1e8-quantized.
_COXW = "CAST(ROUND(EXP(b * x) * 100000000.0, 0) AS BIGINT)"

_COX_GRID_SQL = """
  SELECT t, x, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(x) AS BIGINT) AS sx
  FROM (
    SELECT CAST(date_diff('day', MIN(ts),
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END))
                AS BIGINT) AS t,
           LEAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 // 2, 40) AS x
    FROM events GROUP BY user_id
  ) WHERE t IS NOT NULL GROUP BY t, x
"""


def _cox_step_sql(prev: str) -> str:
    return f"""
  SELECT b.b + CAST(s.uq AS DOUBLE) / s.iq AS b
  FROM (
    SELECT CAST(SUM(CAST(ROUND((dd.sx_t - dd.d_t
               * (CAST(r.s1 AS DOUBLE) / r.s0)) * 1000000.0, 0) AS BIGINT))
             AS BIGINT) AS uq,
           CAST(SUM(CAST(ROUND(dd.d_t
               * (CAST(r.s2 AS DOUBLE) / r.s0
                  - (CAST(r.s1 AS DOUBLE) / r.s0)
                    * (CAST(r.s1 AS DOUBLE) / r.s0)) * 1000000.0, 0)
               AS BIGINT)) AS BIGINT) AS iq
    FROM (
      SELECT t,
             CAST(SUM(s0p) OVER (ORDER BY t DESC) AS BIGINT) AS s0,
             CAST(SUM(s1p) OVER (ORDER BY t DESC) AS BIGINT) AS s1,
             CAST(SUM(s2p) OVER (ORDER BY t DESC) AS BIGINT) AS s2
      FROM (
        SELECT g.t,
               CAST(SUM(g.c * ({_COXW})) AS BIGINT) AS s0p,
               CAST(SUM(g.c * ({_COXW}) * g.x) AS BIGINT) AS s1p,
               CAST(SUM(g.c * ({_COXW}) * g.x * g.x) AS BIGINT) AS s2p
        FROM grid g CROSS JOIN {prev}
        GROUP BY g.t
      )
    ) r JOIN (
      SELECT t, CAST(SUM(c) AS BIGINT) AS d_t, CAST(SUM(sx) AS BIGINT)
               AS sx_t
      FROM grid GROUP BY t
    ) dd ON dd.t = r.t
  ) s CROSS JOIN {prev} b
"""


@query(
    "a173_cox_ph",
    oracle=f"""
WITH grid AS MATERIALIZED (
  SELECT t, x, c, sx, CAST(b AS DOUBLE) AS b FROM (
    {_COX_GRID_SQL}
  ) CROSS JOIN (SELECT 0 AS b)
),
grid0 AS MATERIALIZED (SELECT t, x, c, sx FROM grid),
beta0 AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS b),
beta1 AS MATERIALIZED ({_cox_step_sql("beta0").replace("grid g", "grid0 g").replace("FROM grid GROUP", "FROM grid0 GROUP")}),
beta2 AS MATERIALIZED ({_cox_step_sql("beta1").replace("grid g", "grid0 g").replace("FROM grid GROUP", "FROM grid0 GROUP")}),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_users FROM grid0)
SELECT t.n_users,
       round(b.b, 6) AS beta_r,
       round(EXP(b.b), 6) AS hazard_ratio_r
FROM beta2 b CROSS JOIN tot t
""",
)
def a173_cox_ph(spark, sf_dir):
    """Cox proportional-hazards regression (one covariate, Breslow tie
    handling, two unrolled Newton steps) on time-to-first-purchase vs
    click engagement — the survival-regression flagship, made
    hash-checkable: users collapse to a (day, x) GRID (both dimensions
    bounded — days by the calendar, x = min(clicks÷2, 40)), exp(βx)
    runs once per grid CELL and is 1e8-quantized, risk-set sums S0/S1/S2
    are suffix windows of exact BIGINTs over event days, and the
    per-day score/information terms are micro-quantized before the
    final fold, so β updates are ratios of exact integers. Step 1 is
    fully exact (e⁰=1). This fixture has no censoring (every user
    converts — documented); the risk-set machinery is censoring-ready
    since only event days contribute score terms. At 100 TB: one
    events fold to the grid, then constant-size math per step."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.datediff(
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ),
            F.min("ts"),
        )
        .cast("bigint")
        .alias("t"),
        F.least(
            F.expr(
                "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
                " div 2"
            ),
            F.lit(40).cast("bigint"),
        ).alias("x"),
    ).filter(F.col("t").isNotNull())
    grid = u.groupBy("t", "x").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("x").cast("bigint").alias("sx"),
    ).localCheckpoint(eager=True)
    dayagg = grid.groupBy("t").agg(
        F.sum("c").cast("bigint").alias("d_t"),
        F.sum("sx").cast("bigint").alias("sx_t"),
    ).localCheckpoint(eager=True)

    def step(beta):
        j = grid.crossJoin(F.broadcast(beta))
        wq = F.expr(_COXW)
        per_t = j.groupBy("t").agg(
            F.sum(F.col("c") * wq).cast("bigint").alias("s0p"),
            F.sum(F.col("c") * wq * F.col("x")).cast("bigint").alias("s1p"),
            F.sum(F.col("c") * wq * F.col("x") * F.col("x"))
            .cast("bigint")
            .alias("s2p"),
        )
        wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        r = per_t.select(
            "t",
            F.sum("s0p").over(wdesc).cast("bigint").alias("s0"),
            F.sum("s1p").over(wdesc).cast("bigint").alias("s1"),
            F.sum("s2p").over(wdesc).cast("bigint").alias("s2"),
        )
        s0D = F.col("s0").cast("double")
        m1 = F.col("s1").cast("double") / s0D
        m2 = F.col("s2").cast("double") / s0D
        terms = r.join(dayagg, "t").select(
            money(F.col("sx_t") - F.col("d_t") * m1, 6).alias("uq"),
            money(F.col("d_t") * (m2 - m1 * m1), 6).alias("iq"),
        )
        s = terms.agg(
            F.sum("uq").cast("bigint").alias("uq"),
            F.sum("iq").cast("bigint").alias("iq"),
        )
        return (
            s.crossJoin(F.broadcast(beta))
            .select(
                (
                    F.col("b")
                    + F.col("uq").cast("double") / F.col("iq")
                ).alias("b")
            )
            .localCheckpoint(eager=True)
        )

    beta = literal_frame(spark, [(0.0,)], "b double")
    for _ in range(2):
        beta = step(beta)
    tot = grid.agg(F.sum("c").cast("bigint").alias("n_users"))
    return beta.crossJoin(F.broadcast(tot)).select(
        "n_users",
        F.round("b", 6).alias("beta_r"),
        F.round(F.exp("b"), 6).alias("hazard_ratio_r"),
    )
