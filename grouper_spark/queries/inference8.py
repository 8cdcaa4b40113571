"""Round-10 battery extension 4 (a599–a610): forecast-rationality and
structural-stability diagnostics (Mincer–Zarnowitz, Quandt–Andrews
supF, MOSUM), inequality order-statistic measures (Hoover index,
Palma ratio, quintile share), combined location-scale and
distribution-shape rank tests (Lepage, Baumgartner–Weiß–Schindler,
Fligner–Killeen), Fisher's g exact-periodogram periodicity test,
Watson's U² circular uniformity of the daily arrival phase, the
Holm step-down and Storey q-value multiple-testing adjusters over a
shared 25-nation z-test family, and a character-bigram gibberish
scorer for corpus curation.

Every candidate in this tranche was vetted against the REGISTRY name
list (the excision lesson from commit 422b3b4 — SURVEY keyword greps
miss Unicode en-dash spellings).

Shared design rules (the monitoring.py / inference7.py discipline):
ONE map-side combined aggregate folds the corpus to a keyed summary
panel; every cross-row sum is an exact BIGINT (fixed-point where the
source is a double, unit-rescaled where squared-moment headroom needs
pinning); scalar double algebra runs only on identical exact inputs
through identical expression text, feeding a terminal ``round(x, 6)``
or a raw BIGINT/BIGINT ratio (one IEEE division, bit-identical
cross-engine). Per-term transcendentals (Fisher-g trig, normal
scores) are value- or panel-bounded and fixed-pointed per term before
any sum (the a235/a443 recipe).

Reference parity target: junegunn/grouper exposes no statistics
surface (src/grouper/core.clj is a 155-line micro-batching utility);
these extend the engine's monitoring/analytics coverage for pipeline
observability at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import money_units
from ..sources import table
from ._series import daily_orders, unit_scaled
from . import query
from .inference4 import _DAILYVK_SQL
from .inference7 import _TDK_SQL, _tdk

# ---------------------------------------------------------------------------
# a601 Mincer–Zarnowitz forecast-rationality regression
# ---------------------------------------------------------------------------


@query(
    "a601_mincer_zarnowitz",
    oracle=f"""
WITH {_DAILYVK_SQL},
pair AS (
  SELECT yk AS a, lag(yk) OVER (ORDER BY d) AS f
  FROM daily
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(a) AS BIGINT) AS sa,
         CAST(SUM(f) AS BIGINT) AS sf,
         CAST(SUM(a * a) AS BIGINT) AS saa,
         CAST(SUM(f * f) AS BIGINT) AS sff,
         CAST(SUM(a * f) AS BIGINT) AS saf,
         CAST(SUM((a - f) * (a - f)) AS BIGINT) AS sdd
  FROM pair WHERE f IS NOT NULL
),
calc AS (
  SELECT m, sdd,
         CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / m AS caa,
         CAST(sff AS DOUBLE) - CAST(sf AS DOUBLE) * sf / m AS cff,
         CAST(saf AS DOUBLE) - CAST(sa AS DOUBLE) * sf / m AS caf,
         CAST(sa AS DOUBLE) AS sad, CAST(sf AS DOUBLE) AS sfd
  FROM agg
),
fit AS (
  SELECT m, sdd, caa, cff, caf,
         caf / cff AS beta,
         (sad - (caf / cff) * sfd) / m AS alpha,
         caa - caf * caf / cff AS sse
  FROM calc
)
SELECT m,
       CASE WHEN cff <= 0 THEN NULL ELSE round(alpha, 6) END AS alpha_r,
       CASE WHEN cff <= 0 THEN NULL ELSE round(beta, 6) END AS beta_r,
       CASE WHEN cff <= 0 OR sse <= 0 OR m <= 2 THEN NULL
            ELSE round(((sdd - sse) / 2) / (sse / (m - 2)), 6)
       END AS mz_f_r
FROM fit
""",
    tags=("inference", "forecast"),
)
def a601_mincer_zarnowitz(spark, sf_dir):
    """Mincer–Zarnowitz forecast-rationality regression for the lag-1
    naive forecast of daily adaptive-unit revenue: regress the actual
    on the forecast and jointly test (α, β) = (0, 1) — the standard
    'is this forecast unbiased AND efficient' gate that a516's Theil
    U2 accuracy ratio cannot answer (a forecast can have low error
    yet be systematically improvable). The joint F uses the exact
    identity that Σ(a−f)² IS the restricted SSE under (0,1):
    F = ((Σ(a−f)² − SSE)/2)/(SSE/(m−2)). All seven moments are exact
    BIGINTs of the unit-scaled panel (adaptive unit pins the squared-
    moment budget at every corpus scale); the closed-form α, β, SSE
    and F run in scalar doubles on identical exact inputs, guarded
    for degenerate variance, terminal round(x, 6). One corpus fold;
    the regression sees ≤2.4k rows at any sf."""
    daily = daily_orders(
        table(spark, sf_dir, "orders"), money_units("o_totalprice", 100).alias("y")
    ).localCheckpoint(eager=False)
    daily = unit_scaled(daily, "y", 3000, "yk")
    w = Window.orderBy("d")
    pair = daily.select(
        F.col("yk").alias("a"), F.lag("yk").over(w).alias("f")
    ).where(F.col("f").isNotNull())
    agg = pair.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("f").cast("bigint").alias("sf"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("sff"),
        F.sum(F.col("a") * F.col("f")).cast("bigint").alias("saf"),
        F.sum((F.col("a") - F.col("f")) * (F.col("a") - F.col("f")))
        .cast("bigint")
        .alias("sdd"),
    )
    m = F.col("m")
    caa = F.col("saa").cast("double") - F.col("sa").cast("double") * F.col("sa") / m
    cff = F.col("sff").cast("double") - F.col("sf").cast("double") * F.col("sf") / m
    caf = F.col("saf").cast("double") - F.col("sa").cast("double") * F.col("sf") / m
    calc = agg.select(
        "m",
        "sdd",
        caa.alias("caa"),
        cff.alias("cff"),
        caf.alias("caf"),
        F.col("sa").cast("double").alias("sad"),
        F.col("sf").cast("double").alias("sfd"),
    )
    beta = F.col("caf") / F.col("cff")
    alpha = (F.col("sad") - beta * F.col("sfd")) / F.col("m")
    sse = F.col("caa") - F.col("caf") * F.col("caf") / F.col("cff")
    fit = calc.select(
        "m",
        "sdd",
        "cff",
        beta.alias("beta"),
        alpha.alias("alpha"),
        sse.alias("sse"),
    )
    bad = F.col("cff") <= 0
    return fit.select(
        "m",
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("alpha"), 6))
        .alias("alpha_r"),
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("beta"), 6))
        .alias("beta_r"),
        F.when(
            bad | (F.col("sse") <= 0) | (F.col("m") <= 2),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                ((F.col("sdd") - F.col("sse")) / 2)
                / (F.col("sse") / (F.col("m") - 2)),
                6,
            )
        )
        .alias("mz_f_r"),
    )


# ---------------------------------------------------------------------------
# a602 Hoover index + Palma ratio + quintile share
# ---------------------------------------------------------------------------


@query(
    "a602_hoover_palma",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 10000
              AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT x,
         CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(x) OVER () AS BIGINT) AS s
  FROM spend
),
agg AS (
  SELECT CAST(MIN(n) AS BIGINT) AS n, CAST(MIN(s) AS BIGINT) AS s,
         CAST(SUM(ABS(n * x - s)) AS BIGINT) AS habs,
         CAST(COALESCE(SUM(CASE WHEN rk > (9 * n) // 10 THEN x END), 0)
              AS BIGINT) AS top10,
         CAST(COALESCE(SUM(CASE WHEN rk <= (4 * n) // 10 THEN x END), 0)
              AS BIGINT) AS bot40,
         CAST(COALESCE(SUM(CASE WHEN rk > (8 * n) // 10 THEN x END), 0)
              AS BIGINT) AS top20,
         CAST(COALESCE(SUM(CASE WHEN rk <= n // 5 THEN x END), 0)
              AS BIGINT) AS bot20
  FROM r
)
SELECT n, s, habs, top10, bot40, top20, bot20,
       CASE WHEN s = 0 THEN NULL
            ELSE CAST(habs AS DOUBLE) / (2 * n * s) END AS hoover,
       CASE WHEN bot40 = 0 THEN NULL
            ELSE CAST(top10 AS DOUBLE) / bot40 END AS palma,
       CASE WHEN bot20 = 0 THEN NULL
            ELSE CAST(top20 AS DOUBLE) / bot20 END AS s80s20
FROM agg
""",
    tags=("analytics", "inequality"),
)
def a602_hoover_palma(spark, sf_dir):
    """Hoover (Robin Hood) index, Palma ratio, and 80/20 quintile
    share of per-customer spend — the three order-statistic
    inequality measures the entropy family (a541 Theil/Atkinson,
    q163 Gini) does not cover: Hoover is the fraction of total spend
    that would have to move to equalize (the max vertical Lorenz
    gap), Palma and S80/S20 are the tail-share ratios policy reports
    quote. Everything is exact integers: hundred-dollar spend units
    (the a144 headroom discipline — Σ|n·x − S| stays ≤ ~1e17 at 100×
    the gate scale), custkey-tie-broken row_number ranks, integer
    decile thresholds (k·n)//10, and conditional BIGINT sums; each
    measure is ONE raw IEEE division (bit-identical cross-engine),
    NULL-guarded for empty tails. One orders fold + one rank window
    over the customer-count-sized summary."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        money_units("o_totalprice", 10000).alias("x")
    )
    wr = Window.orderBy("x", "o_custkey")
    wall = Window.partitionBy()
    r = spend.select(
        "x",
        F.row_number().over(wr).cast("bigint").alias("rk"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("x").over(wall).cast("bigint").alias("s"),
    )
    agg = r.agg(
        F.min("n").cast("bigint").alias("n"),
        F.min("s").cast("bigint").alias("s"),
        F.sum(F.abs(F.col("n") * F.col("x") - F.col("s")))
        .cast("bigint")
        .alias("habs"),
        F.coalesce(
            F.sum(F.when(F.col("rk") > F.expr("(9 * n) div 10"), F.col("x"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("top10"),
        F.coalesce(
            F.sum(F.when(F.col("rk") <= F.expr("(4 * n) div 10"), F.col("x"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("bot40"),
        F.coalesce(
            F.sum(F.when(F.col("rk") > F.expr("(8 * n) div 10"), F.col("x"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("top20"),
        F.coalesce(
            F.sum(F.when(F.col("rk") <= F.expr("n div 5"), F.col("x"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("bot20"),
    )
    return agg.select(
        "n",
        "s",
        "habs",
        "top10",
        "bot40",
        "top20",
        "bot20",
        F.when(F.col("s") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("habs").cast("double") / (2 * F.col("n") * F.col("s")))
        .alias("hoover"),
        F.when(F.col("bot40") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("top10").cast("double") / F.col("bot40"))
        .alias("palma"),
        F.when(F.col("bot20") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("top20").cast("double") / F.col("bot20"))
        .alias("s80s20"),
    )


# ---------------------------------------------------------------------------
# a603 Quandt–Andrews supF structural-break scan
# ---------------------------------------------------------------------------


@query(
    "a603_quandt_andrews",
    oracle=f"""
WITH {_TDK_SQL},
mom AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(k) AS BIGINT) AS tx, CAST(SUM(y) AS BIGINT) AS ty,
         CAST(SUM(k * k) AS BIGINT) AS txx,
         CAST(SUM(y * y) AS BIGINT) AS tyy,
         CAST(SUM(k * y) AS BIGINT) AS txy
  FROM seq GROUP BY grp
),
cum AS (
  SELECT s.grp, s.k, m.n, m.tx, m.ty, m.txx, m.tyy, m.txy,
         CAST(SUM(s.k) OVER w AS BIGINT) AS cx,
         CAST(SUM(s.y) OVER w AS BIGINT) AS cy,
         CAST(SUM(s.k * s.k) OVER w AS BIGINT) AS cxx,
         CAST(SUM(s.y * s.y) OVER w AS BIGINT) AS cyy,
         CAST(SUM(s.k * s.y) OVER w AS BIGINT) AS cxy
  FROM seq s JOIN mom m ON m.grp = s.grp
  WINDOW w AS (PARTITION BY s.grp ORDER BY s.k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cand AS (
  SELECT grp, k AS tau, n,
         ((CAST(cyy AS DOUBLE) - CAST(cy AS DOUBLE) * cy / k)
          - (CAST(cxy AS DOUBLE) - CAST(cx AS DOUBLE) * cy / k)
            * (CAST(cxy AS DOUBLE) - CAST(cx AS DOUBLE) * cy / k)
            / (CAST(cxx AS DOUBLE) - CAST(cx AS DOUBLE) * cx / k)) AS sse1,
         ((CAST(tyy - cyy AS DOUBLE)
           - CAST(ty - cy AS DOUBLE) * (ty - cy) / (n - k))
          - (CAST(txy - cxy AS DOUBLE)
             - CAST(tx - cx AS DOUBLE) * (ty - cy) / (n - k))
            * (CAST(txy - cxy AS DOUBLE)
               - CAST(tx - cx AS DOUBLE) * (ty - cy) / (n - k))
            / (CAST(txx - cxx AS DOUBLE)
               - CAST(tx - cx AS DOUBLE) * (tx - cx) / (n - k))) AS sse2,
         ((CAST(tyy AS DOUBLE) - CAST(ty AS DOUBLE) * ty / n)
          - (CAST(txy AS DOUBLE) - CAST(tx AS DOUBLE) * ty / n)
            * (CAST(txy AS DOUBLE) - CAST(tx AS DOUBLE) * ty / n)
            / (CAST(txx AS DOUBLE) - CAST(tx AS DOUBLE) * tx / n)) AS ssep
  FROM cum
  WHERE k >= GREATEST(4, (3 * n) // 20)
    AND k <= LEAST(n - 4, (17 * n) // 20)
),
f AS (
  SELECT grp, tau, n,
         CASE WHEN sse1 + sse2 > 0 AND n > 4
              THEN ((ssep - sse1 - sse2) / 2)
                   / ((sse1 + sse2) / (n - 4))
              ELSE -1.0 END AS fstat
  FROM cand
),
rk AS (
  SELECT grp, tau, n, fstat,
         row_number() OVER (PARTITION BY grp
                            ORDER BY fstat DESC, tau ASC) AS rn
  FROM f
)
SELECT grp, n, tau AS tau_hat,
       CASE WHEN fstat < 0 THEN NULL
            ELSE round(fstat, 6) END AS supf_r
FROM rk WHERE rn = 1
ORDER BY grp
""",
    tags=("inference", "changepoint"),
)
def a603_quandt_andrews(spark, sf_dir):
    """Quandt–Andrews supF structural-break scan on each event type's
    unit-rescaled daily trend: the maximum Chow F over every interior
    candidate break in the central 15–85% of the sample, plus the
    argmax break index — the 'unknown break date' generalization of
    a481's single-known-date Chow test (sup-F has its own Andrews
    critical values precisely because the break is estimated). One
    cumulative window over the ≤30-row panel yields prefix moments;
    each candidate's two segment SSEs and the pooled SSE are
    closed-form doubles from exact BIGINT prefix/total moments
    (identical expression text both engines, so the per-τ F values —
    and therefore the argmax — agree bit-for-bit); degenerate
    candidates rank at −1 and surface as NULL. The corpus is gone
    after one count aggregate at any sf."""
    seq = _tdk(spark, sf_dir)
    mom = seq.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("tx"),
        F.sum("y").cast("bigint").alias("ty"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("txx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("tyy"),
        F.sum(F.col("k") * F.col("y")).cast("bigint").alias("txy"),
    )
    wc = (
        Window.partitionBy("grp")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = seq.join(mom, "grp").select(
        "grp",
        "k",
        "n",
        "tx",
        "ty",
        "txx",
        "tyy",
        "txy",
        F.sum("k").over(wc).cast("bigint").alias("cx"),
        F.sum("y").over(wc).cast("bigint").alias("cy"),
        F.sum(F.col("k") * F.col("k")).over(wc).cast("bigint").alias("cxx"),
        F.sum(F.col("y") * F.col("y")).over(wc).cast("bigint").alias("cyy"),
        F.sum(F.col("k") * F.col("y")).over(wc).cast("bigint").alias("cxy"),
    )

    def _sse(nn, sx, sy, sxx, syy, sxy):
        cyy = syy.cast("double") - sy.cast("double") * sy / nn
        cxy = sxy.cast("double") - sx.cast("double") * sy / nn
        cxx = sxx.cast("double") - sx.cast("double") * sx / nn
        return cyy - cxy * cxy / cxx

    k = F.col("k")
    cand = cum.where(
        (k >= F.greatest(F.lit(4), F.expr("(3 * n) div 20")))
        & (k <= F.least(F.col("n") - 4, F.expr("(17 * n) div 20")))
    ).select(
        "grp",
        k.alias("tau"),
        "n",
        _sse(
            k, F.col("cx"), F.col("cy"), F.col("cxx"), F.col("cyy"), F.col("cxy")
        ).alias("sse1"),
        _sse(
            F.col("n") - k,
            F.col("tx") - F.col("cx"),
            F.col("ty") - F.col("cy"),
            F.col("txx") - F.col("cxx"),
            F.col("tyy") - F.col("cyy"),
            F.col("txy") - F.col("cxy"),
        ).alias("sse2"),
        _sse(
            F.col("n"),
            F.col("tx"),
            F.col("ty"),
            F.col("txx"),
            F.col("tyy"),
            F.col("txy"),
        ).alias("ssep"),
    )
    fstat = F.when(
        (F.col("sse1") + F.col("sse2") > 0) & (F.col("n") > 4),
        ((F.col("ssep") - F.col("sse1") - F.col("sse2")) / 2)
        / ((F.col("sse1") + F.col("sse2")) / (F.col("n") - 4)),
    ).otherwise(F.lit(-1.0))
    f = cand.select("grp", "tau", "n", fstat.alias("fstat"))
    wr = Window.partitionBy("grp").orderBy(
        F.col("fstat").desc(), F.col("tau").asc()
    )
    rk = f.select("grp", "tau", "n", "fstat", F.row_number().over(wr).alias("rn"))
    return (
        rk.where(F.col("rn") == 1)
        .select(
            "grp",
            "n",
            F.col("tau").alias("tau_hat"),
            F.when(F.col("fstat") < 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("fstat"), 6))
            .alias("supf_r"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# a605 MOSUM drift monitor
# ---------------------------------------------------------------------------


@query(
    "a605_mosum_monitor",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
),
base AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
  FROM daily GROUP BY grp
),
dev AS (
  SELECT daily.grp, d, b.n, b.n * c - b.s AS nd
  FROM daily JOIN base b ON b.grp = daily.grp
),
mos AS (
  SELECT grp, d, n, nd,
         CAST(SUM(nd) OVER w AS BIGINT) AS m7,
         CAST(COUNT(*) OVER w AS BIGINT) AS w7
  FROM dev
  WINDOW w AS (PARTITION BY grp ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
),
en AS (
  SELECT grp, CAST(MIN(n) AS BIGINT) AS n,
         CAST(SUM(nd * nd) AS BIGINT) AS snd2
  FROM dev GROUP BY grp
),
pk AS (
  SELECT grp, d, m7,
         row_number() OVER (PARTITION BY grp
                            ORDER BY ABS(m7) DESC, d ASC) AS rn
  FROM mos WHERE w7 = 7
)
SELECT pk.grp, en.n, pk.d AS peak_d,
       CAST(ABS(pk.m7) AS BIGINT) AS mosum_abs,
       CASE WHEN en.snd2 = 0 THEN NULL
            ELSE round(ABS(pk.m7)
                       / sqrt(7.0 * CAST(en.snd2 AS DOUBLE) / en.n), 6)
       END AS mosum_z_r
FROM pk JOIN en ON en.grp = pk.grp
WHERE pk.rn = 1
ORDER BY pk.grp
""",
    tags=("monitoring", "changepoint"),
)
def a605_mosum_monitor(spark, sf_dir):
    """MOSUM (moving-sum-of-deviations) drift monitor over each event
    type's daily counts with a 7-day window: the peak |Σ₇ (n·cₜ − S)|
    and its date, standardized by the √(h·Σnd²/n) scale — the
    WINDOWED changepoint detector that localizes short-lived level
    shifts a global CUSUM (a449-family) smears out and a Page–Hinkley
    fold (a563) only crosses cumulatively. Exactness via the a434
    n-scaled deviation trick: nd = n·c − S is an exact BIGINT, the
    7-day rolling sums and the pooled energy Σnd² are exact BIGINT
    folds, the peak/argmax ranks on integers (date ascending tie
    break), and the single sqrt runs once per type into a terminal
    round(x, 6). One corpus count aggregate; everything after runs on
    the ≤30-row panel."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    base = daily.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    dev = daily.join(base, "grp").select(
        "grp", "d", "n", (F.col("n") * F.col("c") - F.col("s")).alias("nd")
    ).localCheckpoint(eager=False)
    wm = Window.partitionBy("grp").orderBy("d").rowsBetween(-6, 0)
    mos = dev.select(
        "grp",
        "d",
        "nd",
        F.sum("nd").over(wm).cast("bigint").alias("m7"),
        F.count("*").over(wm).cast("bigint").alias("w7"),
    )
    en = dev.groupBy("grp").agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum(F.col("nd") * F.col("nd")).cast("bigint").alias("snd2"),
    )
    wr = Window.partitionBy("grp").orderBy(
        F.abs(F.col("m7")).desc(), F.col("d").asc()
    )
    pk = (
        mos.where(F.col("w7") == 7)
        .select("grp", "d", "m7", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") == 1)
    )
    return (
        pk.join(en, "grp")
        .select(
            "grp",
            "n",
            F.col("d").alias("peak_d"),
            F.abs(F.col("m7")).cast("bigint").alias("mosum_abs"),
            F.when(F.col("snd2") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.abs(F.col("m7"))
                    / F.sqrt(7.0 * F.col("snd2").cast("double") / F.col("n")),
                    6,
                )
            )
            .alias("mosum_z_r"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# a600 Lepage combined location-scale test
# ---------------------------------------------------------------------------


@query(
    "a600_lepage_test",
    oracle=f"""
WITH {_TDK_SQL},
obs AS (
  SELECT CASE WHEN grp = 'purchase' THEN 1 ELSE 2 END AS g, y
  FROM seq WHERE grp IN ('purchase', 'view')
),
hist AS (
  SELECT y,
         CAST(COALESCE(SUM(CASE WHEN g = 1 THEN 1 END), 0) AS BIGINT) AS c1,
         CAST(COALESCE(SUM(CASE WHEN g = 2 THEN 1 END), 0) AS BIGINT) AS c2
  FROM obs GROUP BY y
),
mid AS (
  SELECT y, c1, c2,
         2 * COALESCE(SUM(c1 + c2) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (c1 + c2) + 1 AS r2,
         CAST(SUM(c1) OVER () AS BIGINT) AS m,
         CAST(SUM(c2) OVER () AS BIGINT) AS nn
  FROM hist
),
sc AS (
  SELECT y, c1, c2, m, nn, m + nn AS nt, r2,
         LEAST(r2, 2 * (m + nn + 1) - r2) AS a2
  FROM mid
),
agg AS (
  SELECT CAST(MIN(m) AS BIGINT) AS m, CAST(MIN(nn) AS BIGINT) AS nn,
         CAST(MIN(nt) AS BIGINT) AS nt,
         CAST(SUM(c1 * r2) AS BIGINT) AS w2,
         CAST(SUM(c1 * a2) AS BIGINT) AS ab2,
         CAST(SUM((c1 + c2) * r2) AS BIGINT) AS sw,
         CAST(SUM((c1 + c2) * r2 * r2) AS BIGINT) AS sww,
         CAST(SUM((c1 + c2) * a2) AS BIGINT) AS sa,
         CAST(SUM((c1 + c2) * a2 * a2) AS BIGINT) AS saa
  FROM sc
),
z AS (
  SELECT m, nn, nt, w2, ab2,
         CAST(m AS DOUBLE) * sw / nt AS ew,
         CAST(m AS DOUBLE) * nn
           * (CAST(nt AS DOUBLE) * sww - CAST(sw AS DOUBLE) * sw)
           / (CAST(nt AS DOUBLE) * nt * (nt - 1)) AS vw,
         CAST(m AS DOUBLE) * sa / nt AS ea,
         CAST(m AS DOUBLE) * nn
           * (CAST(nt AS DOUBLE) * saa - CAST(sa AS DOUBLE) * sa)
           / (CAST(nt AS DOUBLE) * nt * (nt - 1)) AS va
  FROM agg
)
SELECT m, nn, w2, ab2,
       CASE WHEN vw <= 0 THEN NULL
            ELSE round((w2 - ew) / sqrt(vw), 6) END AS zw_r,
       CASE WHEN va <= 0 THEN NULL
            ELSE round((ab2 - ea) / sqrt(va), 6) END AS za_r,
       CASE WHEN vw <= 0 OR va <= 0 THEN NULL
            ELSE round((w2 - ew) * (w2 - ew) / vw
                       + (ab2 - ea) * (ab2 - ea) / va, 6)
       END AS lepage_d_r
FROM z
""",
    tags=("inference", "nonparametric"),
)
def a600_lepage_test(spark, sf_dir):
    """Lepage combined location-scale test between the purchase and
    view unit-rescaled daily count distributions: D = z_W² + z_AB²,
    the quadratic form that joins a Wilcoxon rank-sum shift readout
    with an Ansari–Bradley dispersion readout into one 'did ANYTHING
    about this distribution move' statistic (χ²(2) under H0) — the
    omnibus complement to running a366/a521 separately, with neither
    component double-counted. Doubled midranks come off one pooled
    value histogram (r2 = 2·below + ties + 1, exact integers; AB
    scores fold from both ends); both z's use the tie-safe
    conditional moments of a linear rank statistic, E[S] = m·Σs/N
    and Var[S] = m·n·(N·Σs² − (Σs)²)/(N²(N−1)), every sum an exact
    BIGINT over the ≤60-row panel. Two sqrt calls per readout on
    identical exact inputs, terminal round(x, 6)."""
    seq = _tdk(spark, sf_dir)
    obs = seq.where(F.col("grp").isin("purchase", "view")).select(
        F.when(F.col("grp") == "purchase", 1).otherwise(2).alias("g"), "y"
    )
    hist = obs.groupBy("y").agg(
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("c1"),
        F.coalesce(F.sum(F.when(F.col("g") == 2, 1)), F.lit(0))
        .cast("bigint")
        .alias("c2"),
    )
    wb = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    mid = hist.select(
        "c1",
        "c2",
        (
            2 * F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wb), F.lit(0))
            + (F.col("c1") + F.col("c2"))
            + 1
        ).alias("r2"),
        F.sum("c1").over(wall).cast("bigint").alias("m"),
        F.sum("c2").over(wall).cast("bigint").alias("nn"),
    )
    sc = mid.select(
        "c1",
        "c2",
        "m",
        "nn",
        (F.col("m") + F.col("nn")).alias("nt"),
        "r2",
        F.least(
            F.col("r2"), 2 * (F.col("m") + F.col("nn") + 1) - F.col("r2")
        ).alias("a2"),
    )
    agg = sc.agg(
        F.min("m").cast("bigint").alias("m"),
        F.min("nn").cast("bigint").alias("nn"),
        F.min("nt").cast("bigint").alias("nt"),
        F.sum(F.col("c1") * F.col("r2")).cast("bigint").alias("w2"),
        F.sum(F.col("c1") * F.col("a2")).cast("bigint").alias("ab2"),
        F.sum((F.col("c1") + F.col("c2")) * F.col("r2"))
        .cast("bigint")
        .alias("sw"),
        F.sum((F.col("c1") + F.col("c2")) * F.col("r2") * F.col("r2"))
        .cast("bigint")
        .alias("sww"),
        F.sum((F.col("c1") + F.col("c2")) * F.col("a2"))
        .cast("bigint")
        .alias("sa"),
        F.sum((F.col("c1") + F.col("c2")) * F.col("a2") * F.col("a2"))
        .cast("bigint")
        .alias("saa"),
    )
    m, nn, nt = F.col("m"), F.col("nn"), F.col("nt")
    ew = m.cast("double") * F.col("sw") / nt
    vw = (
        m.cast("double")
        * nn
        * (nt.cast("double") * F.col("sww") - F.col("sw").cast("double") * F.col("sw"))
        / (nt.cast("double") * nt * (nt - 1))
    )
    ea = m.cast("double") * F.col("sa") / nt
    va = (
        m.cast("double")
        * nn
        * (nt.cast("double") * F.col("saa") - F.col("sa").cast("double") * F.col("sa"))
        / (nt.cast("double") * nt * (nt - 1))
    )
    z = agg.select(
        "m",
        "nn",
        "w2",
        "ab2",
        ew.alias("ew"),
        vw.alias("vw"),
        ea.alias("ea"),
        va.alias("va"),
    )
    return z.select(
        "m",
        "nn",
        "w2",
        "ab2",
        F.when(F.col("vw") <= 0, F.lit(None).cast("double"))
        .otherwise(F.round((F.col("w2") - F.col("ew")) / F.sqrt(F.col("vw")), 6))
        .alias("zw_r"),
        F.when(F.col("va") <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((F.col("ab2") - F.col("ea")) / F.sqrt(F.col("va")), 6)
        )
        .alias("za_r"),
        F.when(
            (F.col("vw") <= 0) | (F.col("va") <= 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                (F.col("w2") - F.col("ew")) * (F.col("w2") - F.col("ew")) / F.col("vw")
                + (F.col("ab2") - F.col("ea"))
                * (F.col("ab2") - F.col("ea"))
                / F.col("va"),
                6,
            )
        )
        .alias("lepage_d_r"),
    )


# ---------------------------------------------------------------------------
# a604 Fisher's g exact-periodogram periodicity test
# ---------------------------------------------------------------------------


@query(
    "a604_fisher_g_test",
    oracle=f"""
WITH {_TDK_SQL},
mom AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM seq GROUP BY grp
),
terms AS (
  SELECT s.grp, j.j, m.n,
         CAST(ROUND(1000.0 * s.y
              * cos(2.0 * pi() * ((j.j * s.k) % m.n) / m.n), 0)
              AS BIGINT) AS am,
         CAST(ROUND(1000.0 * s.y
              * sin(2.0 * pi() * ((j.j * s.k) % m.n) / m.n), 0)
              AS BIGINT) AS bm
  FROM seq s
  JOIN mom m ON m.grp = s.grp
  JOIN (SELECT unnest(range(1, 16)) AS j) j
    ON j.j <= (m.n - 1) // 2
),
per AS (
  SELECT grp, j, CAST(MIN(n) AS BIGINT) AS n,
         CAST(SUM(am) AS BIGINT) AS aj, CAST(SUM(bm) AS BIGINT) AS bj
  FROM terms GROUP BY grp, j
),
pw AS (
  SELECT grp, j, n, aj * aj + bj * bj AS p,
         CAST(SUM(aj * aj + bj * bj) OVER (PARTITION BY grp) AS BIGINT)
           AS ptot,
         (n - 1) // 2 AS q
  FROM per
),
pk AS (
  SELECT grp, n, q, j, p, ptot,
         row_number() OVER (PARTITION BY grp ORDER BY p DESC, j ASC) AS rn
  FROM pw
),
g AS (
  SELECT grp, n, q, j AS j_peak, p AS pmax, ptot,
         CASE WHEN ptot = 0 THEN NULL
              ELSE CAST(p AS DOUBLE) / ptot END AS gstat
  FROM pk WHERE rn = 1
),
pv AS (
  SELECT g.grp,
         CAST(SUM(CASE WHEN kk.kk % 2 = 1 THEN 1 ELSE -1 END
              * CAST(ROUND(1e9
                * (CAST(factorial(CAST(g.q AS INTEGER)) AS BIGINT)
                   // (CAST(factorial(CAST(kk.kk AS INTEGER)) AS BIGINT)
                       * CAST(factorial(CAST(g.q - kk.kk AS INTEGER))
                              AS BIGINT)))
                * POWER(1.0 - kk.kk * g.gstat, g.q - 1), 0) AS BIGINT))
              AS BIGINT) AS pnum
  FROM g
  JOIN (SELECT unnest(range(1, 16)) AS kk) kk
    ON kk.kk <= g.q AND kk.kk * g.gstat < 1.0
  GROUP BY g.grp
)
SELECT g.grp, g.n, g.q, g.j_peak, g.pmax, g.ptot, g.gstat AS g,
       CASE WHEN g.gstat IS NULL THEN NULL
            ELSE round(GREATEST(0.0, LEAST(1.0,
                 CAST(COALESCE(pv.pnum, 0) AS DOUBLE) / 1e9)), 6)
       END AS p_r
FROM g LEFT JOIN pv ON pv.grp = g.grp
ORDER BY g.grp
""",
    tags=("inference", "timeseries"),
)
def a604_fisher_g_test(spark, sf_dir):
    """Fisher's g test of hidden periodicity on each event type's
    unit-rescaled daily counts: the full periodogram at the Fourier
    frequencies j = 1..⌊(n−1)/2⌋, the g statistic (largest ordinate's
    share of total spectral power), the peak frequency, and Fisher's
    EXACT null p-value Σ(−1)^{{k−1}} C(q,k)(1−kg)^{{q−1}} — the 'is
    the biggest spectral spike real or noise' decision a484's fixed
    7/14/30-day Goertzel probes cannot make (g scans ALL frequencies
    and carries its own null distribution). Determinism: each trig
    product milli-fixes to BIGINT (the a235 per-term recipe; angles
    reduce (j·k) mod n on exact integers), so every periodogram
    ordinate is the exact integer A² + B², g is ONE raw IEEE division
    of exact BIGINTs, and the ≤15-term p-value series nano-fixes each
    factorial-ratio term before the integer sum. Corpus folds to a
    ≤30-row panel first; the frequency fan-out is ≤15×30 rows per
    type at any sf."""
    seq = _tdk(spark, sf_dir)
    mom = seq.groupBy("grp").agg(F.count("*").cast("bigint").alias("n"))
    jdf = spark.range(1, 16).select(F.col("id").cast("bigint").alias("j"))
    terms = (
        seq.join(mom, "grp")
        .join(F.broadcast(jdf), F.col("j") <= (F.col("n") - 1) / 2)
        .where(F.col("j") <= F.expr("(n - 1) div 2"))
        .select(
            "grp",
            "j",
            "n",
            F.expr(
                "CAST(ROUND(1000.0 * y"
                " * cos(2.0 * pi() * ((j * k) % n) / n), 0) AS BIGINT)"
            ).alias("am"),
            F.expr(
                "CAST(ROUND(1000.0 * y"
                " * sin(2.0 * pi() * ((j * k) % n) / n), 0) AS BIGINT)"
            ).alias("bm"),
        )
    )
    per = terms.groupBy("grp", "j").agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum("am").cast("bigint").alias("aj"),
        F.sum("bm").cast("bigint").alias("bj"),
    )
    wg = Window.partitionBy("grp")
    pw = per.select(
        "grp",
        "j",
        "n",
        (F.col("aj") * F.col("aj") + F.col("bj") * F.col("bj")).alias("p"),
        F.sum(F.col("aj") * F.col("aj") + F.col("bj") * F.col("bj"))
        .over(wg)
        .cast("bigint")
        .alias("ptot"),
        F.expr("(n - 1) div 2").alias("q"),
    )
    wr = Window.partitionBy("grp").orderBy(F.col("p").desc(), F.col("j").asc())
    g = (
        pw.select(
            "grp", "n", "q", "j", "p", "ptot", F.row_number().over(wr).alias("rn")
        )
        .where(F.col("rn") == 1)
        .select(
            "grp",
            "n",
            "q",
            F.col("j").alias("j_peak"),
            F.col("p").alias("pmax"),
            "ptot",
            F.when(F.col("ptot") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("p").cast("double") / F.col("ptot"))
            .alias("gstat"),
        )
        .localCheckpoint(eager=False)
    )
    kdf = spark.range(1, 16).select(F.col("id").cast("bigint").alias("kk"))
    pv = (
        g.join(
            F.broadcast(kdf),
            (F.col("kk") <= F.col("q")) & (F.col("kk") * F.col("gstat") < 1.0),
        )
        .select(
            "grp",
            (
                F.when(F.col("kk") % 2 == 1, 1).otherwise(-1)
                * F.expr(
                    "CAST(ROUND(1e9"
                    " * (CAST(factorial(CAST(q AS INT)) AS BIGINT)"
                    "    div (CAST(factorial(CAST(kk AS INT)) AS BIGINT)"
                    "         * CAST(factorial(CAST(q - kk AS INT))"
                    "                AS BIGINT)))"
                    " * POWER(1.0 - kk * gstat, q - 1), 0) AS BIGINT)"
                )
            ).alias("t"),
        )
        .groupBy("grp")
        .agg(F.sum("t").cast("bigint").alias("pnum"))
    )
    return (
        g.join(pv, "grp", "left")
        .select(
            "grp",
            "n",
            "q",
            "j_peak",
            "pmax",
            "ptot",
            F.col("gstat").alias("g"),
            F.when(F.col("gstat").isNull(), F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.greatest(
                        F.lit(0.0),
                        F.least(
                            F.lit(1.0),
                            F.coalesce(F.col("pnum"), F.lit(0)).cast("double")
                            / 1e9,
                        ),
                    ),
                    6,
                )
            )
            .alias("p_r"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# a606 Baumgartner–Weiß–Schindler rank test
# ---------------------------------------------------------------------------


@query(
    "a606_bws_test",
    oracle=f"""
WITH {_TDK_SQL},
obs AS (
  SELECT grp, k, y FROM seq WHERE grp IN ('purchase', 'view')
),
pooled AS (
  SELECT grp, y,
         CAST(row_number() OVER (ORDER BY y, grp, k) AS BIGINT) AS r,
         CAST(SUM(CASE WHEN grp = 'purchase' THEN 1 ELSE 0 END)
              OVER () AS BIGINT) AS m,
         CAST(SUM(CASE WHEN grp = 'view' THEN 1 ELSE 0 END)
              OVER () AS BIGINT) AS nn
  FROM obs
),
idx AS (
  SELECT grp, r, m, nn,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY r)
              AS BIGINT) AS i
  FROM pooled
),
terms AS (
  SELECT grp, m, nn,
         CASE WHEN grp = 'purchase' THEN m ELSE nn END AS sz,
         CASE WHEN grp = 'purchase' THEN nn ELSE m END AS osz,
         CAST(ROUND(1e6
           * ((r - (CAST(m + nn AS DOUBLE)
                    / (CASE WHEN grp = 'purchase' THEN m ELSE nn END)) * i)
              * (r - (CAST(m + nn AS DOUBLE)
                      / (CASE WHEN grp = 'purchase' THEN m ELSE nn END)) * i))
           / ((CAST(i AS DOUBLE)
               / ((CASE WHEN grp = 'purchase' THEN m ELSE nn END) + 1))
              * (1.0 - CAST(i AS DOUBLE)
                 / ((CASE WHEN grp = 'purchase' THEN m ELSE nn END) + 1))
              * ((CASE WHEN grp = 'purchase' THEN nn ELSE m END)
                 * CAST(m + nn AS DOUBLE)
                 / (CASE WHEN grp = 'purchase' THEN m ELSE nn END))), 0)
           AS BIGINT) AS tmicro
  FROM idx
),
bsum AS (
  SELECT grp, CAST(MIN(m) AS BIGINT) AS m, CAST(MIN(nn) AS BIGINT) AS nn,
         CAST(MIN(sz) AS BIGINT) AS sz,
         CAST(SUM(tmicro) AS BIGINT) AS tsum
  FROM terms GROUP BY grp
),
b AS (
  SELECT CAST(MIN(m) AS BIGINT) AS m, CAST(MIN(nn) AS BIGINT) AS nn,
         MAX(CASE WHEN grp = 'purchase'
             THEN CAST(tsum AS DOUBLE) / (sz * 1e6) END) AS bx,
         MAX(CASE WHEN grp = 'view'
             THEN CAST(tsum AS DOUBLE) / (sz * 1e6) END) AS by
  FROM bsum
)
SELECT m, nn, round(bx, 6) AS bx_r, round(by, 6) AS by_r,
       round((bx + by) / 2.0, 6) AS bws_b_r
FROM b
""",
    tags=("inference", "nonparametric"),
)
def a606_bws_test(spark, sf_dir):
    """Baumgartner–Weiß–Schindler rank test between the purchase and
    view unit-rescaled daily count distributions: B = (B_X + B_Y)/2,
    the variance-WEIGHTED Cramér–von Mises variant whose tail
    emphasis gives it more power than Wilcoxon/KS exactly where
    distribution differences live in practice (BWS 1998) — the
    shape-sensitive third leg next to a600's location-scale Lepage.
    Pooled ranks are row_number with a deterministic (y, grp, k) tie
    break (the realized-ordering convention, documented — BWS assumes
    continuity); each of the ≤60 weighted squared-deviation terms is
    a double on exact integers micro-fixed to BIGINT before the
    per-group sum (the a235 discipline), so the engines agree
    bit-for-bit; B_X, B_Y and B are terminal round(x, 6) readouts.
    One corpus count aggregate; constant-size panel at any sf."""
    seq = _tdk(spark, sf_dir)
    obs = seq.where(F.col("grp").isin("purchase", "view")).select(
        "grp", "k", "y"
    )
    wp = Window.orderBy("y", "grp", "k")
    wall = Window.partitionBy()
    pooled = obs.select(
        "grp",
        F.row_number().over(wp).cast("bigint").alias("r"),
        F.sum(F.when(F.col("grp") == "purchase", 1).otherwise(0))
        .over(wall)
        .cast("bigint")
        .alias("m"),
        F.sum(F.when(F.col("grp") == "view", 1).otherwise(0))
        .over(wall)
        .cast("bigint")
        .alias("nn"),
    )
    wi = Window.partitionBy("grp").orderBy("r")
    idx = pooled.select(
        "grp", "r", "m", "nn", F.row_number().over(wi).cast("bigint").alias("i")
    )
    sz = F.when(F.col("grp") == "purchase", F.col("m")).otherwise(F.col("nn"))
    osz = F.when(F.col("grp") == "purchase", F.col("nn")).otherwise(F.col("m"))
    nt = (F.col("m") + F.col("nn")).cast("double")
    dev = F.col("r") - (nt / sz) * F.col("i")
    frac = F.col("i").cast("double") / (sz + 1)
    den = frac * (1.0 - frac) * (osz * nt / sz)
    terms = idx.select(
        "grp",
        "m",
        "nn",
        sz.alias("sz"),
        F.round(1e6 * (dev * dev) / den, 0).cast("bigint").alias("tmicro"),
    )
    bsum = terms.groupBy("grp").agg(
        F.min("m").cast("bigint").alias("m"),
        F.min("nn").cast("bigint").alias("nn"),
        F.min("sz").cast("bigint").alias("sz"),
        F.sum("tmicro").cast("bigint").alias("tsum"),
    )
    b = bsum.agg(
        F.min("m").cast("bigint").alias("m"),
        F.min("nn").cast("bigint").alias("nn"),
        F.max(
            F.when(
                F.col("grp") == "purchase",
                F.col("tsum").cast("double") / (F.col("sz") * 1e6),
            )
        ).alias("bx"),
        F.max(
            F.when(
                F.col("grp") == "view",
                F.col("tsum").cast("double") / (F.col("sz") * 1e6),
            )
        ).alias("by"),
    )
    return b.select(
        "m",
        "nn",
        F.round(F.col("bx"), 6).alias("bx_r"),
        F.round(F.col("by"), 6).alias("by_r"),
        F.round((F.col("bx") + F.col("by")) / 2.0, 6).alias("bws_b_r"),
    )


# ---------------------------------------------------------------------------
# a599 Fligner–Killeen scale test
# ---------------------------------------------------------------------------


def _fk_phi_inv(p: str) -> str:
    from .inference2 import _phi_inv

    return _phi_inv(p)


_FK_U = "(0.5 + CAST(r2 AS DOUBLE) / (4.0 * (nt + 1)))"


@query(
    "a599_fligner_killeen",
    oracle=f"""
WITH ghist AS (
  SELECT event_type AS g,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY g, x
),
gn AS (
  SELECT g, CAST(SUM(cnt) AS BIGINT) AS ng FROM ghist GROUP BY g
),
cum AS (
  SELECT h.g, h.x, h.cnt, n.ng,
         CAST(SUM(h.cnt) OVER (PARTITION BY h.g ORDER BY h.x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cc
  FROM ghist h JOIN gn n ON n.g = h.g
),
med AS (
  SELECT g,
         CAST(MIN(CASE WHEN cc >= (ng + 1) // 2 THEN x END)
              + MIN(CASE WHEN cc >= ng // 2 + 1 THEN x END)
              AS BIGINT) AS med2
  FROM cum GROUP BY g
),
devh AS (
  SELECT h.g, ABS(2 * h.x - m.med2) AS dev,
         CAST(SUM(h.cnt) AS BIGINT) AS cnt
  FROM ghist h JOIN med m ON m.g = h.g
  GROUP BY h.g, ABS(2 * h.x - m.med2)
),
pdev AS (
  SELECT dev, CAST(SUM(cnt) AS BIGINT) AS t FROM devh GROUP BY dev
),
rankd AS (
  SELECT dev, t,
         2 * COALESCE(SUM(t) OVER (ORDER BY dev
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS r2,
         CAST(SUM(t) OVER () AS BIGINT) AS nt
  FROM pdev
),
score AS (
  SELECT dev, t, nt,
         CAST(ROUND(1e9 * {_fk_phi_inv(_FK_U)}, 0) AS BIGINT) AS an,
         CAST(ROUND(1e9 * {_fk_phi_inv(_FK_U)} * {_fk_phi_inv(_FK_U)}, 0)
              AS BIGINT) AS asq
  FROM rankd
),
gsum AS (
  SELECT d.g, CAST(SUM(d.cnt * s.an) AS BIGINT) AS sa
  FROM devh d JOIN score s ON s.dev = d.dev
  GROUP BY d.g
),
tot AS (
  SELECT CAST(SUM(t * an) AS BIGINT) AS sall,
         CAST(SUM(t * asq) AS BIGINT) AS sq,
         CAST(MIN(nt) AS BIGINT) AS nt,
         CAST(COUNT(*) AS BIGINT) AS ndev
  FROM score
),
gpool AS (
  SELECT t.nt, t.ndev,
         CAST(t.sall AS DOUBLE) / (t.nt * 1e9) AS abar,
         (CAST(t.sq AS DOUBLE) / 1e9
          - t.nt * (CAST(t.sall AS DOUBLE) / (t.nt * 1e9))
                 * (CAST(t.sall AS DOUBLE) / (t.nt * 1e9)))
           / (t.nt - 1) AS v
  FROM tot t
),
parts AS (
  SELECT s.g, n.ng, gl.nt, gl.v, gl.abar,
         n.ng * (CAST(s.sa AS DOUBLE) / (n.ng * 1e9) - gl.abar)
              * (CAST(s.sa AS DOUBLE) / (n.ng * 1e9) - gl.abar) AS num,
         CAST(s.sa AS DOUBLE) / (n.ng * 1e9) AS ga
  FROM gsum s JOIN gn n ON n.g = s.g CROSS JOIN gpool gl
),
stat AS (
  SELECT CAST(SUM(CAST(ROUND(1e6 * num, 0) AS BIGINT)) AS BIGINT)
           AS num_micro,
         CAST(MIN(v) AS DOUBLE) AS v,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM parts
)
SELECT p.g AS grp, p.ng, round(p.ga, 6) AS ga_r,
       s.k - 1 AS df,
       CASE WHEN s.v <= 0 THEN NULL
            ELSE round((s.num_micro / 1e6) / s.v, 6) END AS fk_stat_r
FROM parts p CROSS JOIN stat s
ORDER BY p.g
""",
    tags=("inference", "nonparametric"),
)
def a599_fligner_killeen(spark, sf_dir):
    """Fligner–Killeen k-sample scale test on per-event values — the
    rank-based variance-homogeneity test that is the robustness
    BENCHMARK of the family (a351 Levene needs means, a651/Bartlett
    normality, a521/a512 are two-sample): normal scores
    a = Φ⁻¹(½ + r/(2(N+1))) of the pooled midranks of |x − median_g|,
    χ²(k−1) = Σ n_g(Ā_g − ā)²/V. Corpus-scale exactness: per-group
    DOUBLED medians come from cent-value histograms (two conditional
    MINs over one cum window), deviations |2x − med2| stay exact
    integers, pooled DOUBLED midranks come off the deviation
    histogram, and Φ⁻¹ (the shared A&S-26.2.23 text, a144's recipe)
    runs once per DISTINCT deviation value — value-range-bounded, the
    a541 histogram discipline — with each score and its square
    nano-fixed to BIGINT so every group/pooled sum is exact. The
    ≤5-term between-group quadratic micro-fixes per part before the
    final division (one per-corpus scalar readout). Three histogram
    shuffles, no corpus-sized window."""
    ev = table(spark, sf_dir, "events")
    ghist = ev.groupBy(
        F.col("event_type").alias("g"),
        F.expr("CAST(ROUND(value * 100.0, 0) AS BIGINT)").alias("x"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    gn = ghist.groupBy("g").agg(F.sum("cnt").cast("bigint").alias("ng"))
    wcum = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ghist.join(gn, "g").select(
        "g", "x", "ng", F.sum("cnt").over(wcum).cast("bigint").alias("cc")
    )
    med = cum.groupBy("g").agg(
        (
            F.min(F.when(F.col("cc") >= F.expr("(ng + 1) div 2"), F.col("x")))
            + F.min(F.when(F.col("cc") >= F.expr("ng div 2 + 1"), F.col("x")))
        )
        .cast("bigint")
        .alias("med2")
    )
    devh = (
        ghist.join(med, "g")
        .groupBy("g", F.abs(2 * F.col("x") - F.col("med2")).alias("dev"))
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    pdev = devh.groupBy("dev").agg(F.sum("cnt").cast("bigint").alias("t"))
    wb = Window.orderBy("dev").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    rankd = pdev.select(
        "dev",
        "t",
        (2 * F.coalesce(F.sum("t").over(wb), F.lit(0)) + F.col("t") + 1).alias(
            "r2"
        ),
        F.sum("t").over(wall).cast("bigint").alias("nt"),
    )
    phi = _fk_phi_inv(_FK_U)
    score = rankd.select(
        "dev",
        "t",
        "nt",
        F.expr(f"CAST(ROUND(1e9 * {phi}, 0) AS BIGINT)").alias("an"),
        F.expr(f"CAST(ROUND(1e9 * {phi} * {phi}, 0) AS BIGINT)").alias("asq"),
    ).localCheckpoint(eager=False)
    gsum = (
        devh.join(score.select("dev", "an"), "dev")
        .groupBy("g")
        .agg(F.sum(F.col("cnt") * F.col("an")).cast("bigint").alias("sa"))
    )
    tot = score.agg(
        F.sum(F.col("t") * F.col("an")).cast("bigint").alias("sall"),
        F.sum(F.col("t") * F.col("asq")).cast("bigint").alias("sq"),
        F.min("nt").cast("bigint").alias("nt"),
    )
    abar = F.col("sall").cast("double") / (F.col("nt") * 1e9)
    v = (
        F.col("sq").cast("double") / 1e9 - F.col("nt") * abar * abar
    ) / (F.col("nt") - 1)
    glob = tot.select("nt", abar.alias("abar"), v.alias("v"))
    ga = F.col("sa").cast("double") / (F.col("ng") * 1e9)
    parts = (
        gsum.join(gn, "g")
        .crossJoin(F.broadcast(glob))
        .select(
            "g",
            "ng",
            "v",
            ga.alias("ga"),
            (F.col("ng") * (ga - F.col("abar")) * (ga - F.col("abar"))).alias(
                "num"
            ),
        )
        .localCheckpoint(eager=False)
    )
    stat = parts.agg(
        F.sum(F.expr("CAST(ROUND(1e6 * num, 0) AS BIGINT)"))
        .cast("bigint")
        .alias("num_micro"),
        F.min("v").alias("v"),
        F.count("*").cast("bigint").alias("k"),
    )
    return (
        parts.crossJoin(F.broadcast(stat))
        .select(
            F.col("g").alias("grp"),
            "ng",
            F.round(F.col("ga"), 6).alias("ga_r"),
            (F.col("k") - 1).alias("df"),
            F.when(stat["v"] <= 0, F.lit(None).cast("double"))
            .otherwise(F.round((F.col("num_micro") / 1e6) / stat["v"], 6))
            .alias("fk_stat_r"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# a607 Watson U² circular uniformity of daily mean arrival phase
# ---------------------------------------------------------------------------


@query(
    "a607_watson_u2",
    oracle="""
WITH dsec AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CAST(EXTRACT(hour FROM ts) * 3600
                       + EXTRACT(minute FROM ts) * 60
                       + EXTRACT(second FROM CAST(date_trunc('second', ts)
                                                  AS TIMESTAMP)) AS BIGINT))
              // COUNT(*) AS BIGINT) AS t
  FROM events GROUP BY d
),
r AS (
  SELECT t,
         CAST(row_number() OVER (ORDER BY t, d) AS BIGINT) AS i,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         CAST(SUM(t) OVER () AS BIGINT) AS st
  FROM dsec
),
w AS (
  SELECT i, n, st,
         2 * n * t - (2 * i - 1) * 86400 - 2 * st + n * 86400 AS wi
  FROM r
),
agg AS (
  SELECT CAST(MIN(n) AS BIGINT) AS n,
         CAST(SUM(wi * wi) AS BIGINT) AS sw2
  FROM w
)
SELECT n, sw2,
       CAST(sw2 AS DOUBLE) / (4.0 * n * n * 86400.0 * 86400.0)
         + 1.0 / (12.0 * n) AS u2,
       round((CAST(sw2 AS DOUBLE) / (4.0 * n * n * 86400.0 * 86400.0)
              + 1.0 / (12.0 * n)
              - 0.1 / n + 0.1 / (n * n)) * (1.0 + 0.8 / n), 6)
         AS u2_mod_r
FROM agg
""",
    tags=("inference", "circular"),
)
def a607_watson_u2(spark, sf_dir):
    """Watson's U² rotation-invariant uniformity test on the daily
    MEAN arrival phase (mean second-of-day of each day's events) —
    the circular Cramér–von Mises analog that, unlike a443's Rayleigh
    (unimodal-alternative) and a156's Kuiper (sup-norm), integrates
    squared CDF deviation around the whole circle and is invariant to
    where the day 'starts'. Exactness by denominator clearing: with
    integer mean-seconds t_i (floor-divided day sums, documented) and
    T = 86400, the centered terms scale to w_i = 2n·t_i − (2i−1)·T −
    2Σt + n·T — exact BIGINTs whose squares sum ≤ ~4e15 on the
    30-day panel at ANY corpus scale — and U² = Σw²/(4n²T²) +
    1/(12n) is raw scalar algebra on two exact integers (identical
    expression text). Stephens' modified statistic rounds at 6dp. One
    corpus fold; a 30-row sort after."""
    ev = table(spark, sf_dir, "events")
    dsec = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d")).agg(
        F.expr(
            "CAST(SUM(CAST(EXTRACT(hour FROM ts) * 3600"
            " + EXTRACT(minute FROM ts) * 60"
            " + EXTRACT(second FROM CAST(date_trunc('second', ts)"
            " AS TIMESTAMP)) AS BIGINT)) div COUNT(*) AS BIGINT)"
        ).alias("t")
    )
    wr = Window.orderBy("t", "d")
    wall = Window.partitionBy()
    r = dsec.select(
        "t",
        F.row_number().over(wr).cast("bigint").alias("i"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("t").over(wall).cast("bigint").alias("st"),
    )
    wi = (
        2 * F.col("n") * F.col("t")
        - (2 * F.col("i") - 1) * 86400
        - 2 * F.col("st")
        + F.col("n") * 86400
    )
    agg = r.select("n", wi.alias("wi")).groupBy().agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum(F.col("wi") * F.col("wi")).cast("bigint").alias("sw2"),
    )
    n = F.col("n")
    u2 = F.col("sw2").cast("double") / (4.0 * n * n * 86400.0 * 86400.0) + 1.0 / (
        12.0 * n
    )
    return agg.select(
        "n",
        "sw2",
        u2.alias("u2"),
        F.round(
            (u2 - 0.1 / n + 0.1 / (n * n)) * (1.0 + 0.8 / n), 6
        ).alias("u2_mod_r"),
    )


# ---------------------------------------------------------------------------
# a608 / a609 shared per-nation p-value panel
# ---------------------------------------------------------------------------

# 25 two-sided one-proportion z-tests: is each nation's customer share
# consistent with the uniform 1/25? z = (25x − n)/sqrt(24n) has an
# exact BIGINT numerator; p = 2·Φ(−|z|) runs the shared A&S Φ text
# once per nation. The multiple-testing adjusters (a608 Holm, a609
# Storey) consume this family.
_NATION_P_SQL = """
cnt AS (
  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM customer GROUP BY c_nationkey
),
pz AS (
  SELECT nk, x, n, m,
         (25.0 * x - n) / sqrt(24.0 * n) AS z
  FROM cnt
),
pp AS (
  SELECT nk, x, n, m, z,
         2.0 * {phi_mz} AS p
  FROM pz
)
"""


def _nation_p_sql() -> str:
    from .inference import _phi

    return _NATION_P_SQL.format(phi_mz=_phi("(-ABS(z))"))


def _nation_p(spark, sf_dir):
    from .inference import _phi

    c = table(spark, sf_dir, "customer")
    wall = Window.partitionBy()
    cnt = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    cnt = cnt.select(
        "nk",
        "x",
        F.sum("x").over(wall).cast("bigint").alias("n"),
        F.count("*").over(wall).cast("bigint").alias("m"),
    )
    pz = cnt.select(
        "nk",
        "x",
        "n",
        "m",
        ((25.0 * F.col("x") - F.col("n")) / F.sqrt(24.0 * F.col("n"))).alias(
            "z"
        ),
    )
    return pz.select(
        "nk",
        "x",
        "n",
        "m",
        "z",
        F.expr(f"2.0 * {_phi('(-ABS(z))')}").alias("p"),
    ).localCheckpoint(eager=False)


@query(
    "a608_holm_stepdown",
    oracle=f"""
WITH {{np}},
rk AS (
  SELECT nk, m, p,
         CAST(row_number() OVER (ORDER BY p, nk) AS BIGINT) AS i
  FROM pp
),
adj AS (
  SELECT nk, m, p, i,
         MAX(LEAST(1.0, (m - i + 1) * p))
           OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS holm
  FROM rk
)
SELECT nk, i AS p_rank, round(p, 6) AS p_r, round(holm, 6) AS holm_r,
       CASE WHEN holm <= 0.05 THEN 1 ELSE 0 END AS reject05
FROM adj ORDER BY i
""".replace("{np}", _nation_p_sql()),
    tags=("inference", "multiple-testing"),
)
def a608_holm_stepdown(spark, sf_dir):
    """Holm–Bonferroni step-down adjustment over the 25-nation
    customer-share z-test family — the UNIFORMLY-more-powerful exact
    replacement for plain Bonferroni that controls FWER with no
    independence assumption, complementing the FDR-controlling
    a553/a543 (different error metric: family-wise vs false-discovery
    rate). The p-panel is one customer fold (exact BIGINT z
    numerators, shared A&S Φ text once per nation); the step-down is
    a running MAX of min(1, (m−i+1)·p) over the p-ascending order
    (nation-key tie break), a single 25-row window. Identical doubles
    both engines; terminal round(x, 6) readouts plus the α=0.05
    decision column."""
    pp = _nation_p(spark, sf_dir)
    wr = Window.orderBy("p", "nk")
    rk = pp.select(
        "nk", "m", "p", F.row_number().over(wr).cast("bigint").alias("i")
    )
    wcum = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    holm = F.max(
        F.least(F.lit(1.0), (F.col("m") - F.col("i") + 1) * F.col("p"))
    ).over(wcum)
    adj = rk.select("nk", "p", "i", holm.alias("holm"))
    return adj.select(
        "nk",
        F.col("i").alias("p_rank"),
        F.round(F.col("p"), 6).alias("p_r"),
        F.round(F.col("holm"), 6).alias("holm_r"),
        F.when(F.col("holm") <= 0.05, 1).otherwise(0).alias("reject05"),
    ).orderBy("i")


@query(
    "a609_storey_qvalue",
    oracle=f"""
WITH {{np}},
pi0 AS (
  SELECT LEAST(1.0,
         CAST(SUM(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
           / (0.5 * MIN(m))) AS pi0
  FROM pp
),
rk AS (
  SELECT nk, m, p,
         CAST(row_number() OVER (ORDER BY p, nk) AS BIGINT) AS i
  FROM pp
),
q AS (
  SELECT rk.nk, rk.m, rk.p, rk.i, pi0.pi0,
         MIN(LEAST(1.0, pi0.pi0 * rk.m * rk.p / rk.i))
           OVER (ORDER BY rk.i ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING) AS qv
  FROM rk CROSS JOIN pi0
)
SELECT nk, i AS p_rank, round(p, 6) AS p_r, round(pi0, 6) AS pi0_r,
       round(qv, 6) AS q_r
FROM q ORDER BY i
""".replace("{np}", _nation_p_sql()),
    tags=("inference", "multiple-testing"),
)
def a609_storey_qvalue(spark, sf_dir):
    """Storey q-values with the λ=0.5 plug-in π̂₀ estimate over the
    same 25-nation z-test family as a608 — the positive-FDR refinement
    of Benjamini–Hochberg (a553) that first ESTIMATES the null
    fraction π₀ = #{{p > ½}}/(½·m) instead of assuming it is 1, then
    takes the tail-monotone minimum of π̂₀·m·p/i — sharper q-values
    whenever real effects exist. One customer fold builds the exact
    p-panel; π̂₀ is a 1-row aggregate; the monotone step is a single
    backwards running-MIN window over 25 rows (nation-key tie break).
    Identical doubles both engines, terminal round(x, 6)."""
    pp = _nation_p(spark, sf_dir)
    pi0 = pp.agg(
        F.least(
            F.lit(1.0),
            F.sum(F.when(F.col("p") > 0.5, 1).otherwise(0)).cast("double")
            / (0.5 * F.min("m")),
        ).alias("pi0")
    )
    wr = Window.orderBy("p", "nk")
    rk = pp.select(
        "nk", "m", "p", F.row_number().over(wr).cast("bigint").alias("i")
    )
    wtail = Window.orderBy("i").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    q = rk.crossJoin(F.broadcast(pi0)).select(
        "nk",
        "p",
        "i",
        "pi0",
        F.min(
            F.least(
                F.lit(1.0),
                F.col("pi0") * F.col("m") * F.col("p") / F.col("i"),
            )
        )
        .over(wtail)
        .alias("qv"),
    )
    return q.select(
        "nk",
        F.col("i").alias("p_rank"),
        F.round(F.col("p"), 6).alias("p_r"),
        F.round(F.col("pi0"), 6).alias("pi0_r"),
        F.round(F.col("qv"), 6).alias("q_r"),
    ).orderBy("i")


# ---------------------------------------------------------------------------
# a610 character-bigram gibberish score
# ---------------------------------------------------------------------------


@query(
    "a610_char_gibberish",
    oracle="""
WITH bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(text)),
                               i -> substr(text, CAST(i AS INTEGER), 2)))
           AS b
  FROM documents
),
dgb AS MATERIALIZED (
  SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY doc_id, b
),
types AS MATERIALIZED (
  SELECT b, CAST(SUM(c) AS BIGINT) AS cbg FROM dgb GROUP BY b
),
pref AS (
  SELECT substr(b, 1, 1) AS c1, CAST(SUM(cbg) AS BIGINT) AS cc1
  FROM types GROUP BY substr(b, 1, 1)
),
vsz AS (
  SELECT CAST(COUNT(DISTINCT substr(b, 2, 1)) AS BIGINT) AS v2 FROM types
),
score AS (
  SELECT t.b,
         CAST(ROUND(1e9 * ln((t.cbg + 1.0) / (p.cc1 + v.v2)), 0)
              AS BIGINT) AS sn
  FROM types t
  JOIN pref p ON p.c1 = substr(t.b, 1, 1)
  CROSS JOIN vsz v
),
docs AS (
  SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS nb,
         CAST(SUM(d.c * s.sn) AS BIGINT) AS tot
  FROM dgb d JOIN score s ON s.b = d.b
  GROUP BY d.doc_id
)
SELECT doc_id, nb,
       CAST(-tot AS DOUBLE) / (nb * 1e9) AS nll
FROM docs
ORDER BY CAST(-tot AS DOUBLE) / (nb * 1e9) DESC, doc_id
LIMIT 20
""",
    tags=("curation", "quality"),
)
def a610_char_gibberish(spark, sf_dir):
    """Character-bigram gibberish scorer over the document corpus: fit
    a Laplace-smoothed char-bigram model ON the corpus itself, score
    every document by its mean negative log-likelihood −Σ ln P(c₂|c₁)
    / n_bigrams, and surface the top-20 most surprising documents —
    the classic keyboard-mash / mojibake / binary-spill detector that
    word-level filters (q122's word-bigram LM, q101's Gopher rules)
    cannot see because a mashed doc can still tokenize. Scale shape:
    one bigram explode (routed through ensure_parallelism — a
    single-file scan would serialize the CPU-dense substr fan-out),
    bigram-TYPE counts (≤ alphabet², value-bounded), ln once per TYPE
    nano-fixed to BIGINT (the a541 histogram discipline — never a
    per-row transcendental), and a broadcast join back so each doc's
    total is an exact BIGINT sum; the mean NLL is ONE raw IEEE
    division of exact integers, making the top-20 ordering
    deterministic (doc_id tie break). At 100 TB: two narrow shuffles
    + one broadcast; no corpus-sized window."""
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substr(text, i, 2))"
            )
        ).alias("b"),
    )
    # One corpus pass: per-(doc, bigram) counts feed BOTH the type
    # model and the per-doc scoring join; the checkpoint stops
    # Catalyst replanning the explode per reference (one scan instead
    # of four). At 100 TB this materializes a corpus-shaped narrow
    # intermediate once instead of re-reading the corpus twice.
    dgb = (
        bg.groupBy("doc_id", "b")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    types = dgb.groupBy("b").agg(F.sum("c").cast("bigint").alias("cbg"))
    pref = types.groupBy(F.substring("b", 1, 1).alias("c1")).agg(
        F.sum("cbg").cast("bigint").alias("cc1")
    )
    vsz = types.agg(
        F.countDistinct(F.substring("b", 2, 1)).cast("bigint").alias("v2")
    )
    score = (
        types.join(pref, F.substring(types["b"], 1, 1) == pref["c1"])
        .crossJoin(F.broadcast(vsz))
        .select(
            "b",
            F.expr(
                "CAST(ROUND(1e9 * ln((cbg + 1.0) / (cc1 + v2)), 0) AS BIGINT)"
            ).alias("sn"),
        )
    )
    docs = (
        dgb.join(F.broadcast(score), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("nb"),
            F.sum(F.col("c") * F.col("sn")).cast("bigint").alias("tot"),
        )
    )
    nll = (-F.col("tot")).cast("double") / (F.col("nb") * 1e9)
    return (
        docs.select("doc_id", "nb", nll.alias("nll"))
        .orderBy(F.col("nll").desc(), "doc_id")
        .limit(20)
    )
