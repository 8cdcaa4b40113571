"""Round-7 statistical-inference battery (a472–a496; ex a004–a028).

Renamed out of the driver-sampler window in round 8 AFTER their r7
driver certification (25/25 green; tests/certified_names.txt lists
them) — numbers a004–a028 are retired, never reused, same convention
as a002/a003 → a470/a471 (see queries/aliases.py).

Classical tests and estimators the monitoring/analytics batteries did
not yet cover: ordinal effect sizes and association (Cliff's delta,
Somers' D, Jonckheere–Terpstra), variance and location tests (Bartlett,
Mood's median), exact and likelihood-ratio contingency tests (Fisher,
G-test), regression diagnostics (Durbin–Watson, Breusch–Pagan, Chow,
VIF), time-series structure (PACF, Goertzel periodogram, permutation
entropy), reliability and calibration (Cronbach's alpha, ECE +
Hosmer–Lemeshow), survival (Nelson–Aalen + RMST), robust two-sample
inference (Yuen, Hodges–Lehmann), clustering agreement and validity
(adjusted Rand, Davies–Bouldin + Calinski–Harabasz), graph structure
(HITS, rich-club), lexical richness (Yule's K), and meta-analysis
(DerSimonian–Laird).

Shared design rules (the monitoring.py discipline): ONE map-side-
combined aggregate folds the corpus to a keyed summary; every cross-row
sum is an exact BIGINT (fixed-point where the source is a double);
transcendentals run once per group/cell on identical exact inputs and
feed a terminal ``round(x, 6)``; pair statistics come from value
histograms + cumulative windows, never pairwise self-joins of the
corpus. Reference parity target: junegunn/grouper exposes no
statistics surface (src/grouper/core.clj is a micro-batching utility);
these extend the engine's analytics coverage for pipeline monitoring.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import md5_bits, money, money_units
from ..sources import table
from ._cohorts import risk_table, signups, time_to_purchase
from ._series import daily_orders, trend_fit, unit_scaled
from . import query
from ..operators.core import collect_bounded, literal_frame


@query(
    "a472_cliffs_delta",
    oracle="""
WITH obs AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 'treat' ELSE 'ctrl' END
           AS arm,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY user_id, arm
), vals AS (
  SELECT xc,
         CAST(COALESCE(SUM(CASE WHEN arm = 'treat' THEN 1 END), 0)
              AS BIGINT) AS c1,
         CAST(COALESCE(SUM(CASE WHEN arm = 'ctrl' THEN 1 END), 0)
              AS BIGINT) AS c2
  FROM obs GROUP BY xc
), cum AS (
  SELECT xc, c1, c2,
         CAST(COALESCE(SUM(c1) OVER (ORDER BY xc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS c1b,
         CAST(COALESCE(SUM(c2) OVER (ORDER BY xc
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS c2b
  FROM vals
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c1 * c2b) AS BIGINT) AS gt_pairs,
         CAST(SUM(c2 * c1b) AS BIGINT) AS lt_pairs,
         CAST(SUM(c1 * c2) AS BIGINT) AS tie_pairs
  FROM cum
)
SELECT n1, n2, gt_pairs, lt_pairs, tie_pairs,
       round((CAST(gt_pairs AS DOUBLE) - lt_pairs)
             / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta_r,
       round((2.0 * gt_pairs + tie_pairs)
             / (2.0 * CAST(n1 AS DOUBLE) * n2), 6) AS vda_r,
       CASE
         WHEN abs((CAST(gt_pairs AS DOUBLE) - lt_pairs)
                  / (CAST(n1 AS DOUBLE) * n2)) < 0.147 THEN 'negligible'
         WHEN abs((CAST(gt_pairs AS DOUBLE) - lt_pairs)
                  / (CAST(n1 AS DOUBLE) * n2)) < 0.33 THEN 'small'
         WHEN abs((CAST(gt_pairs AS DOUBLE) - lt_pairs)
                  / (CAST(n1 AS DOUBLE) * n2)) < 0.474 THEN 'medium'
         ELSE 'large'
       END AS magnitude
FROM agg
""",
    tags=("inference", "stats"),
)
def a472_cliffs_delta(spark, sf_dir):
    """Cliff's delta + Vargha–Delaney Â between per-user purchase and
    view spend — the ORDINAL effect size that a113's Cohen's d family
    cannot give: it depends only on how often one sample exceeds the
    other, so it survives heavy tails and monotone transforms. The
    O(n²) pair counts collapse to a value-histogram + two cumulative
    windows (gt = Σ c₁(v)·cum₂(<v)), so nothing pairwise ever
    materializes: the corpus folds to one (user, arm) fixed-point
    aggregate, the histogram is bounded by the value domain, and every
    pair count is an exact BIGINT — δ and Â are each ONE division, and
    the magnitude label branches on the identical exact ratio in both
    engines. At 100 TB the only corpus touch is the first aggregate."""
    ev = table(spark, sf_dir, "events")
    obs = (
        ev.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(
            "user_id",
            F.when(F.col("event_type") == "purchase", "treat")
            .otherwise("ctrl")
            .alias("arm"),
        )
        .agg(F.sum(money("value")).cast("bigint").alias("xc"))
    )
    vals = obs.groupBy("xc").agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == "treat", 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("c1"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == "ctrl", 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("c2"),
    )
    w = (
        Window.orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vals.select(
        "c1",
        "c2",
        F.coalesce(F.sum("c1").over(w), F.lit(0))
        .cast("bigint")
        .alias("c1b"),
        F.coalesce(F.sum("c2").over(w), F.lit(0))
        .cast("bigint")
        .alias("c2b"),
    )
    agg = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("c2b")).cast("bigint").alias("gt_pairs"),
        F.sum(F.col("c2") * F.col("c1b")).cast("bigint").alias("lt_pairs"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("tie_pairs"),
    )
    delta = (F.col("gt_pairs").cast("double") - F.col("lt_pairs")) / (
        F.col("n1").cast("double") * F.col("n2")
    )
    return agg.select(
        "n1",
        "n2",
        "gt_pairs",
        "lt_pairs",
        "tie_pairs",
        F.round(delta, 6).alias("cliffs_delta_r"),
        F.round(
            (2.0 * F.col("gt_pairs") + F.col("tie_pairs"))
            / (2.0 * F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("vda_r"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@query(
    "a473_somers_gamma",
    oracle="""
WITH lc AS (
  SELECT l_orderkey, LEAST(CAST(COUNT(*) AS BIGINT), 3) AS yb
  FROM lineitem GROUP BY l_orderkey
), cells AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS x, yb AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders JOIN lc ON l_orderkey = o_orderkey
  GROUP BY x, y
), conc AS (
  SELECT
    CAST(2 * SUM(CASE WHEN b.x > a.x AND b.y > a.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS c2,
    CAST(2 * SUM(CASE WHEN b.x > a.x AND b.y < a.y
                      THEN a.n * b.n ELSE 0 END) AS BIGINT) AS d2
  FROM cells a CROSS JOIN cells b
), tx AS (
  SELECT CAST(SUM(nx * (nx - 1)) AS BIGINT) AS rowp2
  FROM (SELECT SUM(n) AS nx FROM cells GROUP BY x)
), ty AS (
  SELECT CAST(SUM(ny * (ny - 1)) AS BIGINT) AS colp2
  FROM (SELECT SUM(n) AS ny FROM cells GROUP BY y)
), tc AS (
  SELECT CAST(SUM(n * (n - 1)) AS BIGINT) AS cellp2 FROM cells
)
SELECT c2, d2,
       CAST(rowp2 - cellp2 AS BIGINT) AS tx2,
       CAST(colp2 - cellp2 AS BIGINT) AS ty2,
       round((CAST(c2 AS DOUBLE) - d2) / (CAST(c2 AS DOUBLE) + d2), 6)
         AS gamma_r,
       round((CAST(c2 AS DOUBLE) - d2)
             / (CAST(c2 AS DOUBLE) + d2 + (colp2 - cellp2)), 6)
         AS somers_dyx_r,
       round((CAST(c2 AS DOUBLE) - d2)
             / (CAST(c2 AS DOUBLE) + d2 + (rowp2 - cellp2)), 6)
         AS somers_dxy_r
FROM conc CROSS JOIN tx CROSS JOIN ty CROSS JOIN tc
""",
    tags=("inference", "stats"),
)
def a473_somers_gamma(spark, sf_dir):
    """Goodman–Kruskal gamma + both Somers' D asymmetries between order
    priority (ordinal 1..5) and line-count bucket (1/2/3+) — the
    contingency-side concordance family next to a118's Kendall τ-b:
    gamma ignores all ties, D_yx penalizes only Y-ties, so together they
    localize WHERE association lives. All pair counts are exact DOUBLED
    BIGINTs straight from the ≤15-cell contingency table (C from a
    15×15 cell cross join — never the corpus; tie pairs from row/column
    marginals via n(n−1) identities), so each statistic is one double
    division. The corpus is touched by one per-order count and one
    (x, y) cell aggregate; at 100 TB the concordance algebra runs on a
    constant-size table. Pair counts stay under BIGINT range to n≈2·10⁹
    rows (n² < 9.2·10¹⁸)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lc = li.groupBy("l_orderkey").agg(
        F.least(F.count("*").cast("bigint"), F.lit(3)).alias("yb")
    )
    cells = (
        o.join(lc, o.o_orderkey == lc.l_orderkey)
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("x"),
            F.col("yb").alias("y"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    a = cells.alias("a")
    b = cells.alias("b")
    conc = a.crossJoin(b).agg(
        (
            2
            * F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x"))
                    & (F.col("b.y") > F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0))
            )
        )
        .cast("bigint")
        .alias("c2"),
        (
            2
            * F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x"))
                    & (F.col("b.y") < F.col("a.y")),
                    F.col("a.n") * F.col("b.n"),
                ).otherwise(F.lit(0))
            )
        )
        .cast("bigint")
        .alias("d2"),
    )
    rowp = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("nx"))
        .agg(
            F.sum(F.col("nx") * (F.col("nx") - 1))
            .cast("bigint")
            .alias("rowp2")
        )
    )
    colp = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("ny"))
        .agg(
            F.sum(F.col("ny") * (F.col("ny") - 1))
            .cast("bigint")
            .alias("colp2")
        )
    )
    cellp = cells.agg(
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("cellp2")
    )
    j = conc.crossJoin(rowp).crossJoin(colp).crossJoin(cellp)
    num = F.col("c2").cast("double") - F.col("d2")
    return j.select(
        "c2",
        "d2",
        (F.col("rowp2") - F.col("cellp2")).cast("bigint").alias("tx2"),
        (F.col("colp2") - F.col("cellp2")).cast("bigint").alias("ty2"),
        F.round(num / (F.col("c2").cast("double") + F.col("d2")), 6).alias(
            "gamma_r"
        ),
        F.round(
            num
            / (
                F.col("c2").cast("double")
                + F.col("d2")
                + (F.col("colp2") - F.col("cellp2"))
            ),
            6,
        ).alias("somers_dyx_r"),
        F.round(
            num
            / (
                F.col("c2").cast("double")
                + F.col("d2")
                + (F.col("rowp2") - F.col("cellp2"))
            ),
            6,
        ).alias("somers_dxy_r"),
    )


@query(
    "a474_jonckheere_terpstra",
    oracle="""
WITH base AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS g,
         CAST(floor(o_totalprice) AS BIGINT) AS v
  FROM orders
), hist AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY g, v
), grid AS (
  SELECT gg.g, vv.v, CAST(COALESCE(h.c, 0) AS BIGINT) AS c0
  FROM (SELECT DISTINCT g FROM hist) gg
  CROSS JOIN (SELECT DISTINCT v FROM hist) vv
  LEFT JOIN hist h ON h.g = gg.g AND h.v = vv.v
), cum AS (
  SELECT g, v, c0,
         CAST(COALESCE(SUM(c0) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cb
  FROM grid
), jt AS (
  SELECT CAST(SUM(2 * h.c * u.cb + h.c * u.c0) AS BIGINT) AS jt2
  FROM hist h JOIN cum u ON u.v = h.v AND u.g < h.g
), szs AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS nn,
         CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
         CAST(SUM(n_g * n_g * (2 * n_g + 3)) AS BIGINT) AS sn23
  FROM (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM hist GROUP BY g)
)
SELECT nn, jt2,
       round((CAST(jt2 AS DOUBLE) / 2.0
              - (CAST(nn AS DOUBLE) * nn - sn2) / 4.0)
             / sqrt((CAST(nn AS DOUBLE) * nn * (2.0 * nn + 3.0) - sn23)
                    / 72.0), 6) AS z_r
FROM jt CROSS JOIN szs
""",
    tags=("inference", "stats"),
)
def a474_jonckheere_terpstra(spark, sf_dir):
    """Jonckheere–Terpstra ordered-alternatives test: does order value
    trend monotonically with priority level? More powerful than a106's
    Kruskal–Wallis when the alternative is ORDERED, which is exactly
    the monitoring question (does urgency buy value?). The Σ pairwise
    Mann–Whitney U over ordered group pairs collapses to a
    (group, value) histogram + per-group cumulative window: each hist
    row of group g₂ picks up 2·c·cum(<v) + c·c_at(v) from every lower
    group at the same value row — doubled-JT stays an exact BIGINT with
    the standard half-tie convention and no pairwise join. The normal
    z uses the no-tie JT variance (N²(2N+3) − Σn²(2n+3))/72 from exact
    group sizes, evaluated once. Values quantized to whole currency
    units so the histogram is bounded by the price domain, not the row
    count — the 100 TB grid is (price range × 5), corpus touched once."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
        F.floor("o_totalprice").cast("bigint").alias("v"),
    )
    hist = (
        base.groupBy("g", "v")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    grid = (
        hist.select("g")
        .distinct()
        .crossJoin(hist.select("v").distinct())
        .join(hist, ["g", "v"], "left")
        .select(
            "g", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c0")
        )
    )
    wc = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = grid.select(
        F.col("g").alias("ug"),
        F.col("v").alias("uv"),
        F.col("c0"),
        F.coalesce(F.sum("c0").over(wc), F.lit(0))
        .cast("bigint")
        .alias("cb"),
    )
    jt = (
        hist.join(
            cum,
            (cum.uv == hist.v) & (cum.ug < hist.g),
        )
        .agg(
            F.sum(
                2 * F.col("c") * F.col("cb") + F.col("c") * F.col("c0")
            )
            .cast("bigint")
            .alias("jt2")
        )
    )
    szs = (
        hist.groupBy("g")
        .agg(F.sum("c").cast("bigint").alias("n_g"))
        .agg(
            F.sum("n_g").cast("bigint").alias("nn"),
            F.sum(F.col("n_g") * F.col("n_g")).cast("bigint").alias("sn2"),
            F.sum(
                F.col("n_g") * F.col("n_g") * (2 * F.col("n_g") + 3)
            )
            .cast("bigint")
            .alias("sn23"),
        )
    )
    j = jt.crossJoin(szs)
    return j.select(
        "nn",
        "jt2",
        F.round(
            (
                F.col("jt2").cast("double") / 2.0
                - (
                    F.col("nn").cast("double") * F.col("nn")
                    - F.col("sn2")
                )
                / 4.0
            )
            / F.sqrt(
                (
                    F.col("nn").cast("double")
                    * F.col("nn")
                    * (2.0 * F.col("nn") + 3.0)
                    - F.col("sn23")
                )
                / 72.0
            ),
            6,
        ).alias("z_r"),
    )


@query(
    "a475_bartlett_test",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sc
  FROM events GROUP BY grp, d
), g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(sc) AS BIGINT) AS s1,
         CAST(SUM(sc * sc) AS BIGINT) AS s2
  FROM daily GROUP BY grp
), pg AS (
  SELECT grp, n,
         CAST(ROUND((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 0)
              AS BIGINT) AS s2c
  FROM g
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM((n - 1) * s2c) AS BIGINT) AS sw,
         CAST(SUM((n - 1) * ln(CAST(s2c AS DOUBLE))) AS DOUBLE) AS slog,
         CAST(SUM(1.0 / (n - 1)) AS DOUBLE) AS sinv
  FROM pg
)
SELECT k AS n_groups, n_all,
       round(((n_all - k) * ln(CAST(sw AS DOUBLE) / (n_all - k)) - slog)
             / (1.0 + (sinv - 1.0 / (n_all - k)) / (3.0 * (k - 1))),
             6) AS bartlett_chi2_r
FROM tot
""",
    tags=("inference", "stats"),
)
def a475_bartlett_test(spark, sf_dir):
    """Bartlett's test for variance homogeneity across event types'
    daily spend — the PARAMETRIC sharp-tooth complement to a351's
    robust Brown–Forsythe: maximal power under normality, the classic
    pre-flight for pooled-variance methods. The corpus folds once to
    per-(type, day) fixed-point sums; each group's sample variance is
    rounded to an exact BIGINT (cents²) so the only doubles crossing
    rows are the k=5 per-group (n−1)·ln(s²) terms — ln runs once per
    group on identical exact integers, and the 5-term sums feed one
    closed-form statistic with Bartlett's small-sample correction,
    rounded at 6dp (the a443 transcendental rule). At 100 TB only the
    first aggregate sees data; the test runs on 5 summary rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.sum(money("value")).cast("bigint").alias("sc"))
    g = daily.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("sc").cast("bigint").alias("s1"),
        F.sum(F.col("sc") * F.col("sc")).cast("bigint").alias("s2"),
    )
    pg = g.select(
        "grp",
        "n",
        F.round(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1),
            0,
        )
        .cast("bigint")
        .alias("s2c"),
    )
    tot = pg.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum((F.col("n") - 1) * F.col("s2c")).cast("bigint").alias("sw"),
        F.sum((F.col("n") - 1) * F.log(F.col("s2c").cast("double")))
        .cast("double")
        .alias("slog"),
        F.sum(1.0 / (F.col("n") - 1)).cast("double").alias("sinv"),
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        "n_all",
        F.round(
            (
                (F.col("n_all") - F.col("k"))
                * F.log(
                    F.col("sw").cast("double")
                    / (F.col("n_all") - F.col("k"))
                )
                - F.col("slog")
            )
            / (
                1.0
                + (
                    F.col("sinv")
                    - 1.0 / (F.col("n_all") - F.col("k"))
                )
                / (3.0 * (F.col("k") - 1))
            ),
            6,
        ).alias("bartlett_chi2_r"),
    )


@query(
    "a476_moods_median",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS xc
  FROM orders
), med AS (
  SELECT CAST(ROUND(2.0 * quantile_cont(xc, 0.5), 0) AS BIGINT) AS m2
  FROM base
), cls AS (
  SELECT grp,
         CAST(COALESCE(SUM(CASE WHEN 2 * xc > m2 THEN 1 END), 0)
              AS BIGINT) AS na,
         CAST(COALESCE(SUM(CASE WHEN 2 * xc < m2 THEN 1 END), 0)
              AS BIGINT) AS nb
  FROM base CROSS JOIN med GROUP BY grp
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
         CAST(SUM(na + nb) AS BIGINT) AS nn
  FROM cls
), chi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (na - (na + nb) * (CAST(ta AS DOUBLE) / nn))
           * (na - (na + nb) * (CAST(ta AS DOUBLE) / nn))
           / ((na + nb) * (CAST(ta AS DOUBLE) / nn)) * 1e9, 0) AS BIGINT)
         + CAST(ROUND(
           (nb - (na + nb) * (CAST(tb AS DOUBLE) / nn))
           * (nb - (na + nb) * (CAST(tb AS DOUBLE) / nn))
           / ((na + nb) * (CAST(tb AS DOUBLE) / nn)) * 1e9, 0) AS BIGINT))
         AS BIGINT) AS chi_nano
  FROM cls CROSS JOIN tot
)
SELECT c.grp, c.na AS n_above, c.nb AS n_below,
       round(CAST(ch.chi_nano AS DOUBLE) / 1e9, 6) AS chi2_r
FROM cls c CROSS JOIN chi ch
ORDER BY c.grp
""",
    tags=("inference", "stats"),
)
def a476_moods_median(spark, sf_dir):
    """Mood's median test across order priorities — the coarsest, most
    assumption-free k-group location test (a 2×k chi-square on
    above/below the GRAND median), the right tool when outliers are so
    wild that even rank tests mislead. The doubled-median trick (a351)
    keeps the grand median an exact BIGINT (2m is integral for integer
    cents), so above/below classification is integer comparison with
    ties-at-median dropped per convention. Each group's two (O−E)²/E
    terms are nano-fixed BIGINTs before the cross-group sum
    (order-independent), and the chi-square emerges from one division.
    Two corpus passes (grand median, then classification) — the
    unavoidable price of exact-median centering, both map-side-combined
    at 100 TB."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        money("o_totalprice").alias("xc"),
    )
    med = base.agg(
        F.round(2.0 * F.expr("percentile(xc, 0.5)"), 0)
        .cast("bigint")
        .alias("m2")
    )
    cls = (
        base.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.coalesce(
                F.sum(F.when(2 * F.col("xc") > F.col("m2"), 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("na"),
            F.coalesce(
                F.sum(F.when(2 * F.col("xc") < F.col("m2"), 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("nb"),
        )
        .localCheckpoint(eager=False)
    )
    tot = cls.agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
        F.sum(F.col("na") + F.col("nb")).cast("bigint").alias("nn"),
    )
    ea = (F.col("na") + F.col("nb")) * (
        F.col("ta").cast("double") / F.col("nn")
    )
    eb = (F.col("na") + F.col("nb")) * (
        F.col("tb").cast("double") / F.col("nn")
    )
    chi = (
        cls.crossJoin(F.broadcast(tot))
        .select(
            (
                money((F.col("na") - ea) * (F.col("na") - ea) / ea, 9)
                + money((F.col("nb") - eb) * (F.col("nb") - eb) / eb, 9)
            ).alias("t")
        )
        .agg(F.sum("t").cast("bigint").alias("chi_nano"))
    )
    return (
        cls.crossJoin(F.broadcast(chi))
        .select(
            "grp",
            F.col("na").alias("n_above"),
            F.col("nb").alias("n_below"),
            F.round(F.col("chi_nano").cast("double") / 1e9, 6).alias(
                "chi2_r"
            ),
        )
        .orderBy("grp")
    )


_LGAMMA_SMALL = (
    "0.0",
    "0.0",
    "0.693147180559945",
    "1.7917594692280554",
    "3.178053830347945",
    "4.787491742782047",
    "6.579251212010102",
    "8.525161361065415",
    "10.604602902745249",
    "12.801827480081467",
    "15.104412573075514",
    "17.502307845873887",
    "19.987214495661885",
    "22.55216385312342",
    "25.191221182738683",
)


def _lf(x: str) -> str:
    """ln(x!) as SQL text valid in BOTH Spark SQL and DuckDB.

    Exact literals (Python math.lgamma) below 15; the 2-term Stirling
    series above (abs error < 1e-11 at x>=15). Embedding ONE shared
    expression string in both plans is the q240/a443 determinism
    recipe: identical text + identical exact integer inputs give
    bit-identical doubles up to libm's 1-ulp, far below the terminal
    6dp rounding."""
    small = " ".join(
        f"WHEN {x} = {i} THEN CAST({v} AS DOUBLE)"
        for i, v in enumerate(_LGAMMA_SMALL)
    )
    xd = f"CAST({x} AS DOUBLE)"
    stir = (
        f"(({xd} + 0.5) * ln({xd}) - {xd}"
        f" + CAST(0.9189385332046727 AS DOUBLE)"
        f" + 1.0 / (12.0 * {xd})"
        f" - 1.0 / (360.0 * {xd} * {xd} * {xd}))"
    )
    return f"(CASE {small} ELSE {stir} END)"


def _fisher_lp(k: str) -> str:
    """Hypergeometric log-pmf ln P(K=k | nn, r1, c1), shared SQL text."""
    return (
        f"({_lf('r1')} + {_lf('(nn - r1)')} + {_lf('c1')}"
        f" + {_lf('(nn - c1)')} - {_lf('nn')} - {_lf(k)}"
        f" - {_lf(f'(r1 - {k})')} - {_lf(f'(c1 - {k})')}"
        f" - {_lf(f'(nn - r1 - c1 + {k})')})"
    )


_FISHER_MARGINS_SQL = """
  SELECT CAST(COUNT(*) AS BIGINT) AS nn,
         CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                            THEN 1 END), 0) AS BIGINT) AS r1,
         CAST(COALESCE(SUM(CASE WHEN c_acctbal > 0
                            THEN 1 END), 0) AS BIGINT) AS c1,
         CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                            AND c_acctbal > 0 THEN 1 END), 0)
              AS BIGINT) AS a_obs
  FROM customer
"""


@query(
    "a477_fisher_exact",
    oracle=f"""
WITH margins AS ({_FISHER_MARGINS_SQL}
), terms AS (
  SELECT nn, r1, c1, a_obs,
         unnest(generate_series(GREATEST(CAST(0 AS BIGINT), r1 + c1 - nn),
                                LEAST(r1, c1))) AS k
  FROM margins
), probs AS (
  SELECT nn, r1, c1, a_obs, k,
         exp({_fisher_lp('k')}) AS p,
         exp({_fisher_lp('a_obs')}) AS pa
  FROM terms
)
SELECT nn, a_obs, r1, c1,
       round((CAST(a_obs AS DOUBLE) + 0.5)
             * (CAST(nn - r1 - c1 + a_obs AS DOUBLE) + 0.5)
             / ((CAST(r1 - a_obs AS DOUBLE) + 0.5)
                * (CAST(c1 - a_obs AS DOUBLE) + 0.5)), 6)
         AS odds_haldane_r,
       round(CAST(SUM(CASE WHEN k <= a_obs THEN p ELSE 0.0 END)
                  AS DOUBLE), 6) AS p_left_r,
       round(CAST(SUM(CASE WHEN k >= a_obs THEN p ELSE 0.0 END)
                  AS DOUBLE), 6) AS p_right_r,
       round(CAST(SUM(CASE WHEN p <= pa * (1.0 + 1e-7)
                       THEN p ELSE 0.0 END) AS DOUBLE), 6) AS p_two_r
FROM probs GROUP BY nn, a_obs, r1, c1
""",
    tags=("inference", "stats"),
)
def a477_fisher_exact(spark, sf_dir):
    """Fisher's EXACT 2x2 test (market segment x positive balance) —
    the small-margin companion to q168's asymptotic chi-square: valid
    at any cell count because it sums the hypergeometric pmf directly
    instead of trusting a large-N approximation. The pmf terms use ONE
    shared ln-factorial SQL expression embedded verbatim in both plans
    (exact lgamma literals < 15, 2-term Stirling above — the q240
    constant-embedding recipe), so each of the ~min(r1,c1) terms is
    bit-identical across engines up to libm's ulp, orders of magnitude
    below the 6dp rounding. Two-sided p uses R's convention (sum of
    all k with P(k) <= P(obs)*(1+1e-7)). The corpus is touched by one
    counting aggregate; the term list is margin-sized (never
    corpus-sized), generated lazily from the margins row — at 100 TB
    this is one map-side-combined count plus a bounded sequence."""
    c = table(spark, sf_dir, "customer")
    margins = c.agg(
        F.count("*").cast("bigint").alias("nn"),
        F.coalesce(
            F.sum(F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("r1"),
        F.coalesce(
            F.sum(F.when(F.col("c_acctbal") > 0, 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("c1"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("c_mktsegment") == "AUTOMOBILE")
                    & (F.col("c_acctbal") > 0),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("a_obs"),
    )
    terms = margins.select(
        "nn",
        "r1",
        "c1",
        "a_obs",
        F.explode(
            F.sequence(
                F.greatest(
                    F.lit(0).cast("bigint"),
                    F.col("r1") + F.col("c1") - F.col("nn"),
                ),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    probs = terms.select(
        "nn",
        "r1",
        "c1",
        "a_obs",
        "k",
        F.expr(f"exp({_fisher_lp('k')})").alias("p"),
        F.expr(f"exp({_fisher_lp('a_obs')})").alias("pa"),
    )
    return probs.groupBy("nn", "a_obs", "r1", "c1").agg(
        F.round(
            (F.col("a_obs").cast("double") + 0.5)
            * (
                (
                    F.col("nn") - F.col("r1") - F.col("c1") + F.col("a_obs")
                ).cast("double")
                + 0.5
            )
            / (
                ((F.col("r1") - F.col("a_obs")).cast("double") + 0.5)
                * ((F.col("c1") - F.col("a_obs")).cast("double") + 0.5)
            ),
            6,
        ).alias("odds_haldane_r"),
        F.round(
            F.sum(
                F.when(F.col("k") <= F.col("a_obs"), F.col("p")).otherwise(
                    F.lit(0.0)
                )
            ).cast("double"),
            6,
        ).alias("p_left_r"),
        F.round(
            F.sum(
                F.when(F.col("k") >= F.col("a_obs"), F.col("p")).otherwise(
                    F.lit(0.0)
                )
            ).cast("double"),
            6,
        ).alias("p_right_r"),
        F.round(
            F.sum(
                F.when(
                    F.col("p") <= F.col("pa") * (1.0 + 1e-7), F.col("p")
                ).otherwise(F.lit(0.0))
            ).cast("double"),
            6,
        ).alias("p_two_r"),
    )


@query(
    "a478_g_test",
    oracle="""
WITH cells AS (
  SELECT event_type AS x, CAST(isodow(ts) % 7 + 1 AS INT) AS w,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY x, w
), rx AS (
  SELECT x, CAST(SUM(c) AS BIGINT) AS nx FROM cells GROUP BY x
), cw AS (
  SELECT w, CAST(SUM(c) AS BIGINT) AS nw FROM cells GROUP BY w
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS nn,
         CAST(COUNT(DISTINCT x) AS BIGINT) AS kx,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS kw
  FROM cells
), terms AS (
  SELECT CAST(ROUND(2.0 * ce.c
                    * ln(CAST(ce.c AS DOUBLE) * t.nn
                         / (CAST(r.nx AS DOUBLE) * c2.nw)) * 1e9, 0)
              AS BIGINT) AS g_nano
  FROM cells ce
  JOIN rx r ON r.x = ce.x
  JOIN cw c2 ON c2.w = ce.w
  CROSS JOIN tot t
)
SELECT t.nn AS n_rows,
       CAST((t.kx - 1) * (t.kw - 1) AS BIGINT) AS df,
       round(CAST((SELECT SUM(g_nano) FROM terms) AS DOUBLE) / 1e9, 6)
         AS g_stat_r
FROM tot t
""",
    tags=("inference", "stats"),
)
def a478_g_test(spark, sf_dir):
    """G-test (likelihood-ratio chi-square) of event-type x weekday
    independence — the information-theoretic twin of q168's Pearson
    statistic: G = 2ΣO·ln(O·N/(R·C)) is additive across partitions of
    the table and equals 2N times the mutual information a368
    estimates, so it composes with entropy-based diagnostics. Each
    cell's ln sees an exact integer rational (c·N / (nx·nw) — the q121
    PMI discipline), runs once per cell (≤35 cells), is nano-fixed to
    a BIGINT, and the cross-cell sum is exact. Weekday uses the
    cross-engine-stable isodow%7+1 numbering (the q256 gotcha). One
    map-side-combined corpus aggregate; the test itself touches ≤35
    summary rows at any scale."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"),
        F.dayofweek("ts").cast("int").alias("w"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    rx = cells.groupBy("x").agg(F.sum("c").cast("bigint").alias("nx"))
    cw = cells.groupBy("w").agg(F.sum("c").cast("bigint").alias("nw"))
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("nn"),
        F.countDistinct("x").cast("bigint").alias("kx"),
        F.countDistinct("w").cast("bigint").alias("kw"),
    )
    terms = (
        cells.join(rx, "x")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            money(
                2.0
                * F.col("c")
                * F.log(
                    F.col("c").cast("double")
                    * F.col("nn")
                    / (F.col("nx").cast("double") * F.col("nw"))
                ),
                9,
            )
            .alias("g_nano")
        )
        .agg(F.sum("g_nano").cast("bigint").alias("g_nano"))
    )
    return tot.crossJoin(F.broadcast(terms)).select(
        F.col("nn").alias("n_rows"),
        ((F.col("kx") - 1) * (F.col("kw") - 1)).cast("bigint").alias("df"),
        F.round(F.col("g_nano").cast("double") / 1e9, 6).alias(
            "g_stat_r"
        ),
    )


_DAILY_OLS_SQL = """
daily0 AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y FROM daily0 CROSS JOIN unit
), ts_ AS (
  SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t FROM daily
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM ts_
), fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * st2 - CAST(st AS DOUBLE) * st) AS b
  FROM sums
), fit2 AS (
  SELECT s.n, f.b,
         (CAST(s.sy AS DOUBLE) - f.b * s.st) / s.n AS a
  FROM sums s CROSS JOIN fit f
), resid AS (
  SELECT t.t,
         CAST(ROUND(t.y - f.a - f.b * t.t, 0) AS BIGINT) AS ec
  FROM ts_ t CROSS JOIN fit2 f
)"""


@query(
    "a479_durbin_watson",
    oracle=f"""
WITH {_DAILY_OLS_SQL}, lagd AS (
  SELECT ec,
         ec - LAG(ec) OVER (ORDER BY t) AS de
  FROM resid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       round(CAST(COALESCE(SUM(de * de), 0) AS DOUBLE)
             / CAST(SUM(ec * ec) AS DOUBLE), 6) AS dw_r,
       round(1.0 - CAST(COALESCE(SUM(de * de), 0) AS DOUBLE)
                   / CAST(SUM(ec * ec) AS DOUBLE) / 2.0, 6) AS rho1_r
FROM lagd
""",
    tags=("inference", "stats"),
)
def a479_durbin_watson(spark, sf_dir):
    """Durbin–Watson lag-1 autocorrelation test on the residuals of a
    daily-revenue-vs-time OLS fit — the classic "is the trend model
    missing serial structure" diagnostic that complements a434's
    Ljung–Box portmanteau (DW localizes lag 1; LB pools many lags).
    The corpus folds to one per-day fixed-point revenue row; the OLS
    slope/intercept are closed-form doubles from exact BIGINT sums
    evaluated once; residuals are QUANTIZED to whole currency units
    (exact BIGINTs), so both Σ(Δe)² and Σe² are exact integer sums and
    DW is one division. The lag window runs over the calendar-sized
    summary (~2400 rows), never the corpus — at 100 TB only the daily
    aggregate sees data."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    )
    fit = trend_fit(ts)
    resid = ts.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(
            F.col("y") - F.col("a") - F.col("b") * F.col("t"), 0
        )
        .cast("bigint")
        .alias("ec"),
    )
    lagd = resid.select(
        "ec",
        (F.col("ec") - F.lag("ec").over(Window.orderBy("t"))).alias("de"),
    )
    dw = F.coalesce(
        F.sum(F.col("de") * F.col("de")), F.lit(0)
    ).cast("double") / F.sum(F.col("ec") * F.col("ec"))
    return lagd.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(dw, 6).alias("dw_r"),
        F.round(1.0 - dw / 2.0, 6).alias("rho1_r"),
    )


@query(
    "a480_breusch_pagan",
    oracle=f"""
WITH {_DAILY_OLS_SQL}, aux AS (
  SELECT t, (ec // 1000) * (ec // 1000) AS u2 FROM resid
), asums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(SUM(u2) AS BIGINT) AS su,
         CAST(SUM(u2 * u2) AS BIGINT) AS su2,
         CAST(SUM(t * u2) AS BIGINT) AS stu
  FROM aux
)
SELECT n AS n_days,
       round((CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
             * (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
             / ((CAST(n AS DOUBLE) * st2 - CAST(st AS DOUBLE) * st)
                * (CAST(n AS DOUBLE) * su2 - CAST(su AS DOUBLE) * su)),
             6) AS r2_aux_r,
       round(CAST(n AS DOUBLE)
             * (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
             * (CAST(n AS DOUBLE) * stu - CAST(st AS DOUBLE) * su)
             / ((CAST(n AS DOUBLE) * st2 - CAST(st AS DOUBLE) * st)
                * (CAST(n AS DOUBLE) * su2 - CAST(su AS DOUBLE) * su)),
             6) AS bp_lm_r
FROM asums
""",
    tags=("inference", "stats"),
)
def a480_breusch_pagan(spark, sf_dir):
    """Breusch–Pagan heteroscedasticity test on the same daily-revenue
    OLS: regress squared residuals on time and report the auxiliary R²
    and the LM statistic n·R² — the "is the variance itself trending"
    check that invalidates naive OLS standard errors, sitting next to
    a011's serial-correlation diagnostic. Residuals quantize to whole
    currency units, then to thousands before squaring so Σt·u² stays
    far inside BIGINT range at any fixture scale; every cross-row sum
    is exact, and both outputs are one closed-form double expression
    from six exact integers. Corpus touched once by the daily
    aggregate; the auxiliary regression runs on the calendar summary."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
    )
    fit = trend_fit(ts)
    aux = (
        ts.crossJoin(F.broadcast(fit))
        .select(
            "t",
            F.round(
                F.col("y") - F.col("a") - F.col("b") * F.col("t"), 0
            )
            .cast("bigint")
            .alias("ec"),
        )
        .select(
            "t",
            (
                F.expr("ec div 1000") * F.expr("ec div 1000")
            ).alias("u2"),
        )
    )
    asums = aux.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("st2"),
        F.sum("u2").cast("bigint").alias("su"),
        F.sum(F.col("u2") * F.col("u2")).cast("bigint").alias("su2"),
        F.sum(F.col("t") * F.col("u2")).cast("bigint").alias("stu"),
    )
    num = (
        F.col("n").cast("double") * F.col("stu")
        - F.col("st").cast("double") * F.col("su")
    )
    den = (
        F.col("n").cast("double") * F.col("st2")
        - F.col("st").cast("double") * F.col("st")
    ) * (
        F.col("n").cast("double") * F.col("su2")
        - F.col("su").cast("double") * F.col("su")
    )
    return asums.select(
        F.col("n").alias("n_days"),
        F.round(num * num / den, 6).alias("r2_aux_r"),
        F.round(F.col("n").cast("double") * num * num / den, 6).alias(
            "bp_lm_r"
        ),
    )


@query(
    "a481_chow_test",
    oracle="""
WITH daily0 AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) // 100
              AS BIGINT) AS y
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y FROM daily0 CROSS JOIN unit
), ts_ AS (
  SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_all
  FROM daily
), seg AS (
  SELECT CASE WHEN t <= n_all // 2 THEN 1 ELSE 2 END AS s,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS sy2,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM ts_ GROUP BY s
), sse AS (
  SELECT s, n,
         (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
         - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           / (CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS e
  FROM seg
), pooled AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(st) AS BIGINT) AS st,
         CAST(SUM(st2) AS BIGINT) AS st2,
         CAST(SUM(sy) AS BIGINT) AS sy,
         CAST(SUM(sy2) AS BIGINT) AS sy2,
         CAST(SUM(sty) AS BIGINT) AS sty
  FROM seg
), psse AS (
  SELECT n,
         (CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
         - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n)
           / (CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * st / n) AS ep
  FROM pooled
)
SELECT p.n AS n_days,
       CAST((SELECT n FROM seg WHERE s = 1) AS BIGINT) AS n1,
       CAST((SELECT n FROM seg WHERE s = 2) AS BIGINT) AS n2,
       round(((p.ep - (SELECT SUM(e) FROM sse)) / 2.0)
             / ((SELECT SUM(e) FROM sse) / (p.n - 4.0)), 6) AS f_chow_r
FROM psse p
""",
    tags=("inference", "stats"),
)
def a481_chow_test(spark, sf_dir):
    """Chow structural-break F-test on the daily revenue trend, break
    at the calendar midpoint — the hypothesis-test complement to
    a358's binary segmentation (that one FINDS a breakpoint; this one
    TESTS a designated one): F = ((SSE_p − SSE₁ − SSE₂)/k) /
    ((SSE₁+SSE₂)/(n−2k)) for the k=2 parameter linear fit. Each
    segment's SSE is the closed-form centered-moments expression from
    six exact BIGINT sums (y in whole currency units so Σy² stays in
    range), evaluated once per segment — the only doubles are three
    SSE values and the final ratio. One corpus aggregate to the daily
    summary; segment sums are one more pass over ~2400 rows."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias(
            "n_all"
        ),
    )
    seg = ts.groupBy(
        F.when(F.col("t") <= F.expr("n_all div 2"), 1)
        .otherwise(2)
        .alias("s")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("st2"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    ).localCheckpoint(eager=False)

    def sse_expr(df):
        sxy = F.col("sty").cast("double") - F.col("st").cast(
            "double"
        ) * F.col("sy") / F.col("n")
        sxx = F.col("st2").cast("double") - F.col("st").cast(
            "double"
        ) * F.col("st") / F.col("n")
        syy = F.col("sy2").cast("double") - F.col("sy").cast(
            "double"
        ) * F.col("sy") / F.col("n")
        return syy - sxy * sxy / sxx

    sses = seg.select(
        "s", "n", sse_expr(seg).alias("e")
    )
    pooled = seg.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("st").cast("bigint").alias("st"),
        F.sum("st2").cast("bigint").alias("st2"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sy2").cast("bigint").alias("sy2"),
        F.sum("sty").cast("bigint").alias("sty"),
    )
    psse = pooled.select("n", sse_expr(pooled).alias("ep"))
    segt = sses.agg(
        F.sum("e").alias("e_sum"),
        F.sum(F.when(F.col("s") == 1, F.col("n"))).cast("bigint").alias(
            "n1"
        ),
        F.sum(F.when(F.col("s") == 2, F.col("n"))).cast("bigint").alias(
            "n2"
        ),
    )
    return psse.crossJoin(F.broadcast(segt)).select(
        F.col("n").alias("n_days"),
        "n1",
        "n2",
        F.round(
            ((F.col("ep") - F.col("e_sum")) / 2.0)
            / (F.col("e_sum") / (F.col("n") - 4.0)),
            6,
        ).alias("f_chow_r"),
    )


@query(
    "a482_vif",
    oracle="""
WITH x AS (
  SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS x1,
         CAST(ROUND(l_discount * 100.0, 0) AS BIGINT) AS x2,
         CAST(ROUND(l_tax * 100.0, 0) AS BIGINT) AS x3
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x3) AS BIGINT) AS s3,
         CAST(SUM(x1 * x1) AS BIGINT) AS s11,
         CAST(SUM(x2 * x2) AS BIGINT) AS s22,
         CAST(SUM(x3 * x3) AS BIGINT) AS s33,
         CAST(SUM(x1 * x2) AS BIGINT) AS s12,
         CAST(SUM(x1 * x3) AS BIGINT) AS s13,
         CAST(SUM(x2 * x3) AS BIGINT) AS s23
  FROM x
), r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2)
           / sqrt((CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1)
                  * (CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2))
           AS r12,
         (CAST(n AS DOUBLE) * s13 - CAST(s1 AS DOUBLE) * s3)
           / sqrt((CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1)
                  * (CAST(n AS DOUBLE) * s33 - CAST(s3 AS DOUBLE) * s3))
           AS r13,
         (CAST(n AS DOUBLE) * s23 - CAST(s2 AS DOUBLE) * s3)
           / sqrt((CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2)
                  * (CAST(n AS DOUBLE) * s33 - CAST(s3 AS DOUBLE) * s3))
           AS r23
  FROM s
)
SELECT n,
       round(r12, 6) AS r12_r, round(r13, 6) AS r13_r,
       round(r23, 6) AS r23_r,
       round(1.0 / (1.0 - (r12 * r12 + r13 * r13
                           - 2.0 * r12 * r13 * r23)
                          / (1.0 - r23 * r23)), 6) AS vif_quantity_r,
       round(1.0 / (1.0 - (r12 * r12 + r23 * r23
                           - 2.0 * r12 * r23 * r13)
                          / (1.0 - r13 * r13)), 6) AS vif_discount_r,
       round(1.0 / (1.0 - (r13 * r13 + r23 * r23
                           - 2.0 * r13 * r23 * r12)
                          / (1.0 - r12 * r12)), 6) AS vif_tax_r
FROM r
""",
    tags=("inference", "stats"),
)
def a482_vif(spark, sf_dir):
    """Variance inflation factors for the (quantity, discount, tax)
    predictor block of a lineitem price model — the multicollinearity
    diagnostic that completes the a012/a013 regression-diagnostics
    suite. For 3 predictors each auxiliary R-squared is closed-form in
    the pairwise correlations (R1² = (r12²+r13²−2·r12·r13·r23)/(1−r23²)),
    so NO matrix inversion and no iterative fit: the corpus folds to
    ONE map-side-combined aggregate of 10 exact BIGINT cross-moments
    over integer-quantized predictors (quantity is whole units,
    discount/tax are exact percent points), and the three VIFs are a
    handful of once-per-query double ops feeding the terminal 6dp
    round. Scan reads 3 columns; at 100 TB it is one pass, one 1-row
    shuffle. (Integer cross-moments bound: n·Σx1² ≤ 9e18 holds through
    ~sf10 with x1 ≤ 50; larger corpora re-scale the quantization.)"""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.round("l_quantity", 0).cast("bigint").alias("x1"),
        money("l_discount").alias("x2"),
        money("l_tax").alias("x3"),
    )
    s = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum("x3").cast("bigint").alias("s3"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x3") * F.col("x3")).cast("bigint").alias("s33"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum(F.col("x1") * F.col("x3")).cast("bigint").alias("s13"),
        F.sum(F.col("x2") * F.col("x3")).cast("bigint").alias("s23"),
    )

    def corr(sij, si, sj, sii, sjj):
        nd = F.col("n").cast("double")
        num = nd * F.col(sij) - F.col(si).cast("double") * F.col(sj)
        den = F.sqrt(
            (nd * F.col(sii) - F.col(si).cast("double") * F.col(si))
            * (nd * F.col(sjj) - F.col(sj).cast("double") * F.col(sj))
        )
        return num / den

    r = s.select(
        "n",
        corr("s12", "s1", "s2", "s11", "s22").alias("r12"),
        corr("s13", "s1", "s3", "s11", "s33").alias("r13"),
        corr("s23", "s2", "s3", "s22", "s33").alias("r23"),
    )

    def vif(ra, rb, rc):
        # auxiliary R^2 of the predictor whose two correlations with
        # the others are ra/rb and whose others' mutual corr is rc
        r2 = (
            F.col(ra) * F.col(ra)
            + F.col(rb) * F.col(rb)
            - 2.0 * F.col(ra) * F.col(rb) * F.col(rc)
        ) / (1.0 - F.col(rc) * F.col(rc))
        return 1.0 / (1.0 - r2)

    return r.select(
        "n",
        F.round("r12", 6).alias("r12_r"),
        F.round("r13", 6).alias("r13_r"),
        F.round("r23", 6).alias("r23_r"),
        F.round(vif("r12", "r13", "r23"), 6).alias("vif_quantity_r"),
        F.round(vif("r12", "r23", "r13"), 6).alias("vif_discount_r"),
        F.round(vif("r13", "r23", "r12"), 6).alias("vif_tax_r"),
    )


# Durbin–Levinson unroll for PACF lags 1..5: ONE set of expression
# strings evaluated by BOTH engines (Spark selectExpr / oracle CTE
# projections), so every double op runs in the same order on the same
# exact inputs — the q240/a443 determinism recipe applied to a scalar
# recursion instead of a fold.
_DL_LEVELS = (
    ("p11", "r1"),
    ("p22", "(r2 - p11 * r1) / (1.0 - p11 * r1)"),
    ("p21", "p11 - p22 * p11"),
    ("p33", "(r3 - p21 * r2 - p22 * r1)"
            " / (1.0 - p21 * r1 - p22 * r2)"),
    ("p31", "p21 - p33 * p22"),
    ("p32", "p22 - p33 * p21"),
    ("p44", "(r4 - p31 * r3 - p32 * r2 - p33 * r1)"
            " / (1.0 - p31 * r1 - p32 * r2 - p33 * r3)"),
    ("p41", "p31 - p44 * p33"),
    ("p42", "p32 - p44 * p32"),
    ("p43", "p33 - p44 * p31"),
    ("p55", "(r5 - p41 * r4 - p42 * r3 - p43 * r2 - p44 * r1)"
            " / (1.0 - p41 * r1 - p42 * r2 - p43 * r3 - p44 * r4)"),
)


def _dl_sql_chain(inner: str) -> str:
    """Chain the DL levels as nested SELECTs over ``inner``."""
    sql = inner
    for name, expr in _DL_LEVELS:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


@query(
    "a483_pacf",
    oracle=f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (2 * CAST(SUM(y) AS BIGINT) + COUNT(*))
           // (2 * COUNT(*)) AS ym
  FROM ts_
), dev AS (
  SELECT t.t, CAST(t.y - m.ym AS BIGINT) AS dv, m.n
  FROM ts_ t CROSS JOIN mu m
), led AS (
  SELECT dv, n,
         lead(dv, 1) OVER (ORDER BY t) AS d1,
         lead(dv, 2) OVER (ORDER BY t) AS d2,
         lead(dv, 3) OVER (ORDER BY t) AS d3,
         lead(dv, 4) OVER (ORDER BY t) AS d4,
         lead(dv, 5) OVER (ORDER BY t) AS d5
  FROM dev
), cov AS (
  SELECT MAX(n) AS n,
         CAST(SUM(dv * dv) AS BIGINT) AS c0,
         CAST(COALESCE(SUM(dv * d1), 0) AS BIGINT) AS c1,
         CAST(COALESCE(SUM(dv * d2), 0) AS BIGINT) AS c2,
         CAST(COALESCE(SUM(dv * d3), 0) AS BIGINT) AS c3,
         CAST(COALESCE(SUM(dv * d4), 0) AS BIGINT) AS c4,
         CAST(COALESCE(SUM(dv * d5), 0) AS BIGINT) AS c5
  FROM led
), rho AS (
  SELECT n,
         CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
         CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
         CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3,
         CAST(c4 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r4,
         CAST(c5 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r5
  FROM cov
)
SELECT n AS n_days,
       round(r1, 6) AS acf1_r,
       round(p11, 6) AS pacf1_r,
       round(p22, 6) AS pacf2_r,
       round(p33, 6) AS pacf3_r,
       round(p44, 6) AS pacf4_r,
       round(p55, 6) AS pacf5_r
FROM ({_dl_sql_chain("SELECT * FROM rho")}) q
""",
    tags=("inference", "timeseries"),
)
def a483_pacf(spark, sf_dir):
    """Partial autocorrelation function (lags 1–5) of daily order
    revenue via the Durbin–Levinson recursion — the AR-order
    diagnostic that a011's DW (lag 1 only) and q231's raw ACF cannot
    give: PACF at k nets out the intervening lags, so an AR(p) series
    cuts off sharply after p. The corpus folds to one per-day dollar
    aggregate (~2400 rows); deviations are taken against the
    integer-rounded mean ((2S+n) div 2n — exact in both engines), so
    every autocovariance is an exact BIGINT lag-product sum from ONE
    summary-sized window pass. The DL recursion runs once on that
    1-row summary through _DL_LEVELS — the SAME expression text
    Spark-side (selectExpr) and oracle-side (nested CTE projections),
    giving bit-identical doubles. At 100 TB only the daily groupBy
    sees data; everything after is a 1-row plan."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    mu = ts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "(2 * CAST(SUM(y) AS BIGINT) + COUNT(*))"
            " div (2 * COUNT(*))"
        ).alias("ym"),
    )
    dev = ts.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("y") - F.col("ym")).cast("bigint").alias("dv"), "n"
    )
    w = Window.orderBy("t")
    led = dev.select(
        "dv",
        "n",
        *[F.lead("dv", k).over(w).alias(f"d{k}") for k in range(1, 6)],
    )
    cov = led.agg(
        F.max("n").alias("n"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("c0"),
        *[
            F.coalesce(F.sum(F.col("dv") * F.col(f"d{k}")), F.lit(0))
            .cast("bigint")
            .alias(f"c{k}")
            for k in range(1, 6)
        ],
    )
    rho = cov.select(
        "n",
        *[
            (F.col(f"c{k}").cast("double") / F.col("c0").cast("double"))
            .alias(f"r{k}")
            for k in range(1, 6)
        ],
    )
    out = rho
    for name, expr in _DL_LEVELS:
        out = out.selectExpr("*", f"{expr} AS {name}")
    return out.select(
        F.col("n").alias("n_days"),
        F.round("r1", 6).alias("acf1_r"),
        F.round("p11", 6).alias("pacf1_r"),
        F.round("p22", 6).alias("pacf2_r"),
        F.round("p33", 6).alias("pacf3_r"),
        F.round("p44", 6).alias("pacf4_r"),
        F.round("p55", 6).alias("pacf5_r"),
    )


def _trig_rows():
    """Fixed-point DFT basis for periods 7/14/30: (p, j, cos_fp,
    sin_fp) at 1e6 scale, generated ONCE in Python (math.cos on exact
    rationals) and embedded as identical integer literals in both the
    Spark plan and the oracle SQL — the a443 constant-table recipe, so
    neither engine evaluates a transcendental per data row."""
    import math

    rows = []
    for p in (7, 14, 30):
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


_TRIG_ROWS = _trig_rows()
_TRIG_VALUES = ", ".join(
    f"({p}, {j}, {c}, {s})" for p, j, c, s in _TRIG_ROWS
)


@query(
    "a484_goertzel_periodogram",
    oracle=f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (2 * CAST(SUM(y) AS BIGINT) + COUNT(*))
           // (2 * COUNT(*)) AS ym
  FROM ts_
), dev AS (
  SELECT t.t, CAST(t.y - m.ym AS BIGINT) AS dv, m.n
  FROM ts_ t CROSS JOIN mu m
), trig(p, j, c_fp, s_fp) AS (
  VALUES {_TRIG_VALUES}
), terms AS (
  SELECT g.p, d.n, d.dv, g.c_fp, g.s_fp
  FROM dev d JOIN trig g
    ON g.j = (d.t - 1) % g.p
), sums AS (
  SELECT p, MAX(n) AS n,
         CAST(SUM(dv * c_fp) AS BIGINT) AS a_fp,
         CAST(SUM(dv * s_fp) AS BIGINT) AS b_fp
  FROM terms GROUP BY p
)
SELECT p AS period_days, n AS n_days, a_fp, b_fp,
       round((CAST(a_fp AS DOUBLE) / 1000000.0
              * (CAST(a_fp AS DOUBLE) / 1000000.0)
              + CAST(b_fp AS DOUBLE) / 1000000.0
                * (CAST(b_fp AS DOUBLE) / 1000000.0))
             / CAST(n AS DOUBLE), 6) AS power_r
FROM sums ORDER BY period_days
""",
    tags=("inference", "timeseries"),
)
def a484_goertzel_periodogram(spark, sf_dir):
    """Single-frequency periodogram power of daily revenue at the
    calendar periods 7/14/30 days — the Goertzel-style "evaluate the
    DFT at the few frequencies you care about" seasonality detector
    (weekly/biweekly/monthly), complementing a421's full seasonal
    decompose with an O(n·m) spectral probe. Because t mod p takes
    only p distinct values, the cos/sin basis is a 51-row fixed-point
    INTEGER table generated once in Python and embedded identically in
    both plans (a443 recipe) — so A = Σ d·cos and B = Σ d·sin are
    EXACT BIGINT sums over the mean-rounded-demeaned daily dollar
    series, order-independent, and the power (A²+B²)/n is a
    once-per-period double. At 100 TB the corpus is touched once by
    the daily groupBy; the basis join is a broadcast against a ~2400
    row summary."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    mu = ts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "(2 * CAST(SUM(y) AS BIGINT) + COUNT(*))"
            " div (2 * COUNT(*))"
        ).alias("ym"),
    )
    dev = ts.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("y") - F.col("ym")).cast("bigint").alias("dv"), "n"
    )
    trig = literal_frame(
        spark,
        _TRIG_ROWS, "p int, j int, c_fp bigint, s_fp bigint"
    )
    terms = dev.join(
        F.broadcast(trig), F.col("j") == (F.col("t") - 1) % F.col("p")
    )
    sums = terms.groupBy("p").agg(
        F.max("n").alias("n"),
        F.sum(F.col("dv") * F.col("c_fp")).cast("bigint").alias("a_fp"),
        F.sum(F.col("dv") * F.col("s_fp")).cast("bigint").alias("b_fp"),
    )
    ad = F.col("a_fp").cast("double") / 1000000.0
    bd = F.col("b_fp").cast("double") / 1000000.0
    return sums.select(
        F.col("p").alias("period_days"),
        F.col("n").alias("n_days"),
        "a_fp",
        "b_fp",
        F.round((ad * ad + bd * bd) / F.col("n").cast("double"), 6).alias(
            "power_r"
        ),
    ).orderBy("period_days")


@query(
    "a485_permutation_entropy",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY d
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), tri AS (
  SELECT y AS a,
         lead(y, 1) OVER (ORDER BY t) AS b,
         lead(y, 2) OVER (ORDER BY t) AS c
  FROM ts_
), pat AS (
  SELECT (CASE WHEN a <= b THEN 4 ELSE 0 END
          + CASE WHEN a <= c THEN 2 ELSE 0 END
          + CASE WHEN b <= c THEN 1 ELSE 0 END) AS code,
         COUNT(*) AS cnt
  FROM tri WHERE c IS NOT NULL
  GROUP BY code
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_patterns,
       CAST(SUM(cnt) AS BIGINT) AS n_windows,
       round(
         (ln(CAST(SUM(cnt) AS DOUBLE))
          - CAST(SUM(cnt * CAST(ROUND(ln(CAST(cnt AS DOUBLE))
                                      * 1000000.0, 0) AS BIGINT))
                 AS DOUBLE) / 1000000.0 / SUM(cnt))
         / ln(CAST(6 AS DOUBLE)), 6) AS h_norm_r
FROM pat
""",
    tags=("inference", "timeseries"),
)
def a485_permutation_entropy(spark, sf_dir):
    """Normalized permutation entropy (embedding dimension 3) of the
    daily order-count series — the Bandt–Pompe complexity measure that
    separates deterministic structure (low H) from noise (H → 1)
    using only ORDINAL patterns, so it is immune to monotone
    transforms and heavy tails (the same robustness argument as
    a004's Cliff's delta, applied to dynamics). Each length-3 window
    maps to one of 6 ordinal patterns via stable-argsort comparisons
    (ties break by position: a<=b iff (a,t)<(b,t+1) lexicographically
    — the identical CASE text in both engines); pattern counts are
    exact, and H uses the q156 quantized-ln trick (per-pattern ln on
    ≤6 groups, micro-unit BIGINT before the sum) normalized by ln 6.
    At 100 TB the corpus is touched once by the daily count; the
    window pass runs on the ~2400-row summary."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, F.count("*").cast("bigint").alias("y"))
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    w = Window.orderBy("t")
    tri = ts.select(
        F.col("y").alias("a"),
        F.lead("y", 1).over(w).alias("b"),
        F.lead("y", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    code = (
        F.when(F.col("a") <= F.col("b"), 4).otherwise(0)
        + F.when(F.col("a") <= F.col("c"), 2).otherwise(0)
        + F.when(F.col("b") <= F.col("c"), 1).otherwise(0)
    )
    pat = tri.groupBy(code.alias("code")).agg(F.count("*").alias("cnt"))
    ln_cnt_micro = money(F.log(F.col("cnt").cast("double")), 6)
    return pat.agg(
        F.count("*").cast("bigint").alias("n_patterns"),
        F.sum("cnt").cast("bigint").alias("n_windows"),
        F.round(
            (
                F.log(F.sum("cnt").cast("double"))
                - F.sum(F.col("cnt") * ln_cnt_micro).cast("double")
                / 1000000.0
                / F.sum("cnt")
            )
            / F.log(F.lit(6).cast("double")),
            6,
        ).alias("h_norm_r"),
    )


@query(
    "a486_cronbach_alpha",
    oracle="""
WITH m AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END),
                       0) AS BIGINT) AS x1,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END),
                       0) AS BIGINT) AS x2,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                           END), 0) AS BIGINT) AS x3,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1
                           END), 0) AS BIGINT) AS x4,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1
                           END), 0) AS BIGINT) AS x5
  FROM events GROUP BY user_id
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS s1,
         CAST(SUM(x1 * x1) AS BIGINT) AS q1,
         CAST(SUM(x2) AS BIGINT) AS s2,
         CAST(SUM(x2 * x2) AS BIGINT) AS q2,
         CAST(SUM(x3) AS BIGINT) AS s3,
         CAST(SUM(x3 * x3) AS BIGINT) AS q3,
         CAST(SUM(x4) AS BIGINT) AS s4,
         CAST(SUM(x4 * x4) AS BIGINT) AS q4,
         CAST(SUM(x5) AS BIGINT) AS s5,
         CAST(SUM(x5 * x5) AS BIGINT) AS q5,
         CAST(SUM(x1 + x2 + x3 + x4 + x5) AS BIGINT) AS st,
         CAST(SUM((x1 + x2 + x3 + x4 + x5)
                  * (x1 + x2 + x3 + x4 + x5)) AS BIGINT) AS qt
  FROM m
)
SELECT n AS n_users, CAST(5 AS BIGINT) AS k_items,
       CAST((n * q1 - s1 * s1) + (n * q2 - s2 * s2)
            + (n * q3 - s3 * s3) + (n * q4 - s4 * s4)
            + (n * q5 - s5 * s5) AS BIGINT) AS item_var_num,
       CAST(n * qt - st * st AS BIGINT) AS total_var_num,
       round((5.0 / 4.0)
             * (1.0 - CAST((n * q1 - s1 * s1) + (n * q2 - s2 * s2)
                           + (n * q3 - s3 * s3) + (n * q4 - s4 * s4)
                           + (n * q5 - s5 * s5) AS DOUBLE)
                      / CAST(n * qt - st * st AS DOUBLE)), 6)
         AS alpha_r
FROM s
""",
    tags=("inference", "stats"),
)
def a486_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha internal-consistency coefficient treating the
    5 event types as test items and per-user event counts as item
    scores — the classic reliability statistic for "do these activity
    signals measure one underlying engagement trait". Since alpha =
    k/(k−1)·(1 − Σvar_i/var_total) is scale-free in the variances,
    both sides use the EXACT integer variance numerators n·Σx²−S²
    (the n(n−1) denominators cancel), so the whole query is ONE
    map-side-combined per-user pivot aggregate, one 1-row moment
    fold, and a single double division before the 6dp round. At
    100 TB: one corpus scan, one user-keyed shuffle, 1-row result."""
    ev = table(spark, sf_dir, "events")
    types = ("view", "click", "purchase", "signup", "error")
    m = ev.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"x{i+1}")
            for i, t in enumerate(types)
        ]
    )
    tot = (
        F.col("x1") + F.col("x2") + F.col("x3") + F.col("x4") + F.col("x5")
    )
    s = m.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            agg
            for i in range(1, 6)
            for agg in (
                F.sum(f"x{i}").cast("bigint").alias(f"s{i}"),
                F.sum(F.col(f"x{i}") * F.col(f"x{i}"))
                .cast("bigint")
                .alias(f"q{i}"),
            )
        ],
        F.sum(tot).cast("bigint").alias("st"),
        F.sum(tot * tot).cast("bigint").alias("qt"),
    )
    item_num = sum(
        (
            F.col("n") * F.col(f"q{i}") - F.col(f"s{i}") * F.col(f"s{i}")
            for i in range(2, 6)
        ),
        F.col("n") * F.col("q1") - F.col("s1") * F.col("s1"),
    )
    tot_num = F.col("n") * F.col("qt") - F.col("st") * F.col("st")
    return s.select(
        F.col("n").alias("n_users"),
        F.lit(5).cast("bigint").alias("k_items"),
        item_num.cast("bigint").alias("item_var_num"),
        tot_num.cast("bigint").alias("total_var_num"),
        F.round(
            (5.0 / 4.0)
            * (1.0 - item_num.cast("double") / tot_num.cast("double")),
            6,
        ).alias("alpha_r"),
    )


@query(
    "a487_ece_calibration",
    oracle="""
WITH rng AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
), mid AS (
  SELECT lo + (hi - lo) // 2 AS m FROM rng
), u AS (
  SELECT e.user_id,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) < d.m
                           THEN 1 END), 0) AS BIGINT) AS n1,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) < d.m
                           AND e.event_type = 'purchase'
                           THEN 1 END), 0) AS BIGINT) AS p1,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) >= d.m
                           THEN 1 END), 0) AS BIGINT) AS n2,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) >= d.m
                           AND e.event_type = 'purchase'
                           THEN 1 END), 0) AS BIGINT) AS p2
  FROM events e CROSS JOIN mid d
  GROUP BY e.user_id
), scored AS (
  SELECT (2000000000 * p1 + n1) // (2 * n1) AS p_fp,
         CASE WHEN p2 > 0 THEN 1 ELSE 0 END AS y
  FROM u WHERE n1 > 0 AND n2 > 0
), binned AS (
  SELECT LEAST(9, p_fp * 10 // 1000000000) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(y) AS BIGINT) AS o1,
         CAST(SUM(p_fp) AS BIGINT) AS e_fp
  FROM scored GROUP BY bin
)
SELECT CAST(SUM(n_b) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       round(CAST(SUM(abs(1000000000 * o1 - e_fp)) AS DOUBLE)
             / (1000000000.0 * CAST(SUM(n_b) AS DOUBLE)), 6) AS ece_r,
       round(CAST(SUM(CAST(ROUND(
         (CAST(o1 AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1000000000.0)
         * (CAST(o1 AS DOUBLE) - CAST(e_fp AS DOUBLE) / 1000000000.0)
         / ((CAST(e_fp AS DOUBLE) / 1000000000.0)
            * (1.0 - CAST(e_fp AS DOUBLE) / 1000000000.0
                     / CAST(n_b AS DOUBLE)))
         * 1000000000.0, 0) AS BIGINT)) AS DOUBLE)
         / 1000000000.0, 6) AS hl_chi2_r
FROM binned
""",
    tags=("inference", "stats"),
)
def a487_ece_calibration(spark, sf_dir):
    """Expected calibration error + Hosmer–Lemeshow chi-square for a
    base-rate forecaster: each user's first-half purchase share
    predicts their second-half purchase propensity. The predicted
    probability is fixed-pointed EXACTLY via integer round-half-up
    ((2·10⁹·p+n) div 2n — no float division per user, so no half-ulp
    tie hazard), bins are integer decile buckets of that fp score,
    and ECE reduces to Σ|10⁹·O_b − Σp_fp|/(10⁹·N) — exact integers
    until ONE terminal division. The HL statistic runs its doubles
    once per bin (≤10). The split point is the corpus midpoint
    timestamp (exact integer epoch-µs arithmetic). At 100 TB: one
    corpus scan into a per-user aggregate, a broadcast 1-row
    midpoint, then decile-sized folds."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    mid = rng.select(
        (F.col("lo") + F.expr("(hi - lo) div 2")).alias("m")
    )
    u = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.unix_micros("ts") < F.col("m"), 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n1"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.unix_micros("ts") < F.col("m"))
                        & (F.col("event_type") == "purchase"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("p1"),
            F.coalesce(
                F.sum(F.when(F.unix_micros("ts") >= F.col("m"), 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n2"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.unix_micros("ts") >= F.col("m"))
                        & (F.col("event_type") == "purchase"),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("p2"),
        )
    )
    scored = u.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.expr("(2000000000 * p1 + n1) div (2 * n1)").alias("p_fp"),
        F.when(F.col("p2") > 0, 1).otherwise(0).alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.lit(9), F.expr("p_fp * 10 div 1000000000")).alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum("y").cast("bigint").alias("o1"),
        F.sum("p_fp").cast("bigint").alias("e_fp"),
    )
    e_mean = F.col("e_fp").cast("double") / 1000000000.0
    hl_term = (
        (F.col("o1").cast("double") - e_mean)
        * (F.col("o1").cast("double") - e_mean)
        / (e_mean * (1.0 - e_mean / F.col("n_b").cast("double")))
    )
    return binned.agg(
        F.sum("n_b").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.round(
            F.sum(
                F.abs(F.lit(1000000000).cast("bigint") * F.col("o1") - F.col("e_fp"))
            ).cast("double")
            / (1000000000.0 * F.sum("n_b").cast("double")),
            6,
        ).alias("ece_r"),
        F.round(
            F.sum(money(hl_term, 9)).cast("double")
            / 1000000000.0,
            6,
        ).alias("hl_chi2_r"),
    )


@query(
    "a488_nelson_aalen_rmst",
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
              ELSE (epoch_us(s.last_ts) - epoch_us(s.s_ts))
                   // 86400000000
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
              AS BIGINT) AS n_at_risk
  FROM tt
), haz AS (
  SELECT t_days,
         (2000000 * d + n_at_risk) // (2 * n_at_risk) AS h_micro
  FROM risk WHERE d > 0
), cum AS (
  SELECT t_days,
         CAST(SUM(h_micro) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ch_micro,
         lead(t_days) OVER (ORDER BY t_days) AS nt
  FROM haz
), surv AS (
  SELECT t_days, ch_micro, nt,
         CAST(ROUND(exp(-CAST(ch_micro AS DOUBLE) / 1000000.0)
                    * 1000000.0, 0) AS BIGINT) AS s_micro
  FROM cum
)
SELECT CAST((SELECT COUNT(*) FROM subj) AS BIGINT) AS n_subjects,
       CAST(COUNT(*) AS BIGINT) AS n_event_times,
       round(CAST(MAX(ch_micro) AS DOUBLE) / 1000000.0, 6)
         AS h_final_r,
       round((CAST(1000000 * LEAST(MIN(t_days), 90) AS DOUBLE)
              + CAST(SUM(CASE WHEN t_days < 90
                         THEN s_micro
                              * (LEAST(COALESCE(nt, 90), 90) - t_days)
                         ELSE 0 END) AS DOUBLE))
             / 1000000.0, 6) AS rmst90_r
FROM surv
""",
    tags=("inference", "survival"),
)
def a488_nelson_aalen_rmst(spark, sf_dir):
    """Nelson–Aalen cumulative hazard + 90-day restricted mean
    survival time for signup→first-purchase conversion — the additive
    counterpart of q245's Kaplan–Meier product (NA's Σd/n is the
    canonical estimator when hazards, not survival products, are the
    modelling target) plus RMST, the censoring-robust "average days to
    convert, capped at 90" effect measure. Each per-time hazard
    increment d/n is fixed-pointed EXACTLY via integer round-half-up
    ((2·10⁶·d+n) div 2n), the cumulative hazard is an exact BIGINT
    window sum, exp(−H) runs once per event time on those exact
    integers (micro-quantized, the q245 ln_micro discipline), and the
    RMST step integral Σ S·Δt is again exact integer arithmetic. At
    100 TB the corpus is touched by the per-user fold + one
    purchase-events semi-aggregate; all windows run on the
    event-time summary (hundreds of rows)."""
    ev = table(spark, sf_dir, "events")
    subj = time_to_purchase(signups(ev), ev)
    haz = risk_table(subj).filter(F.col("d") > 0).select(
        "t_days", F.expr("(2000000 * d + n) div (2 * n)").alias("h_micro")
    )
    wc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = haz.select(
        "t_days",
        F.sum("h_micro").over(wc).cast("bigint").alias("ch_micro"),
        F.lead("t_days").over(Window.orderBy("t_days")).alias("nt"),
    )
    surv = cum.select(
        "t_days",
        "ch_micro",
        "nt",
        money(F.exp(-F.col("ch_micro").cast("double") / 1000000.0), 6).alias("s_micro"),
    )
    n_subjects = subj.agg(
        F.count("*").cast("bigint").alias("n_subjects")
    )
    return surv.agg(
        F.count("*").cast("bigint").alias("n_event_times"),
        F.round(F.max("ch_micro").cast("double") / 1000000.0, 6).alias(
            "h_final_r"
        ),
        F.round(
            (
                (
                    F.lit(1000000).cast("bigint")
                    * F.least(F.min("t_days"), F.lit(90).cast("bigint"))
                ).cast("double")
                + F.sum(
                    F.when(
                        F.col("t_days") < 90,
                        F.col("s_micro")
                        * (
                            F.least(
                                F.coalesce(
                                    F.col("nt"),
                                    F.lit(90).cast("bigint"),
                                ),
                                F.lit(90).cast("bigint"),
                            )
                            - F.col("t_days")
                        ),
                    ).otherwise(0)
                ).cast("double")
            )
            / 1000000.0,
            6,
        ).alias("rmst90_r"),
    ).crossJoin(F.broadcast(n_subjects)).select(
        "n_subjects", "n_event_times", "h_final_r", "rmst90_r"
    )


@query(
    "a489_yuen_trimmed_t",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS xc
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), sized AS (
  SELECT g, xc,
         row_number() OVER (PARTITION BY g ORDER BY xc) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM obs
), lim AS (
  SELECT g, xc, rn, n, n * 20 // 100 AS tg FROM sized
), bounds AS (
  SELECT g, MAX(n) AS n, MAX(tg) AS tg,
         MAX(CASE WHEN rn = tg + 1 THEN xc END) AS lo,
         MAX(CASE WHEN rn = n - tg THEN xc END) AS hi
  FROM lim GROUP BY g
), stats AS (
  SELECT l.g, b.n, b.tg, b.n - 2 * b.tg AS h,
         CAST(SUM(CASE WHEN l.rn > b.tg AND l.rn <= b.n - b.tg
                  THEN l.xc ELSE 0 END) AS BIGINT) AS st,
         CAST(SUM(LEAST(GREATEST(l.xc, b.lo), b.hi)) AS BIGINT) AS sw,
         CAST(SUM(LEAST(GREATEST(l.xc, b.lo), b.hi)
                  * LEAST(GREATEST(l.xc, b.lo), b.hi)) AS BIGINT)
           AS qw
  FROM lim l JOIN bounds b ON b.g = l.g
  GROUP BY l.g, b.n, b.tg
), d AS (
  SELECT g, n, h,
         CAST(st AS DOUBLE) / h AS tm,
         (CAST(n AS DOUBLE)
          * CAST(qw AS DOUBLE)
          - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))
         / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)
         * (CAST(n AS DOUBLE) - 1.0)
         / (CAST(h AS DOUBLE) * (CAST(h AS DOUBLE) - 1.0)) AS dj
  FROM stats
)
SELECT d1.n AS n_urgent, d2.n AS n_low,
       CAST(d1.h AS BIGINT) AS h_urgent, CAST(d2.h AS BIGINT) AS h_low,
       round(d1.tm - d2.tm, 6) AS trimmed_diff_r,
       round((d1.tm - d2.tm) / sqrt(d1.dj + d2.dj), 6) AS t_yuen_r,
       round((d1.dj + d2.dj) * (d1.dj + d2.dj)
             / (d1.dj * d1.dj / (CAST(d1.h AS DOUBLE) - 1.0)
                + d2.dj * d2.dj / (CAST(d2.h AS DOUBLE) - 1.0)), 6)
         AS df_r
FROM d d1 CROSS JOIN d d2
WHERE d1.g = 1 AND d2.g = 2
""",
    tags=("inference", "stats"),
)
def a489_yuen_trimmed_t(spark, sf_dir):
    """Yuen's 20%-trimmed-mean t-test comparing URGENT vs LOW order
    values — the robust two-sample location test that q219's plain
    z-test is not: trimming clips both tails so heavy-tailed price
    distributions cannot swamp the comparison, and the variance comes
    from the WINSORIZED sample (Yuen 1974). Trim counts are integer
    positions (g = ⌊0.2n⌋) over a per-group rank window on exact whole-dollar
    values (dollar quantization keeps n·Σw² inside BIGINT to ~sf100); trimmed sums, winsorized sums and sum-squares are exact
    BIGINTs (ties are interchangeable under positional trimming, so
    the rank tie-break cannot change any sum); the t statistic and
    Welch–Satterthwaite df run once on the two 1-row group summaries.
    At 100 TB the rank window shuffles once per group partition and
    everything downstream is 2 rows."""
    o = table(spark, sf_dir, "orders")
    obs = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
        F.round(F.col("o_totalprice"), 0)
        .cast("bigint")
        .alias("xc"),
    )
    wg = Window.partitionBy("g")
    sized = obs.select(
        "g",
        "xc",
        F.row_number().over(wg.orderBy("xc")).alias("rn"),
        F.count("*").over(wg).alias("n"),
    )
    lim = sized.withColumn("tg", F.expr("n * 20 div 100"))
    bounds = lim.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("tg").alias("tg"),
        F.max(
            F.when(F.col("rn") == F.col("tg") + 1, F.col("xc"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.col("tg"), F.col("xc"))
        ).alias("hi"),
    )
    wx = F.least(F.greatest(F.col("xc"), F.col("lo")), F.col("hi"))
    stats = (
        lim.drop("n", "tg")
        .join(F.broadcast(bounds), "g")
        .groupBy("g", "n", "tg")
        .agg(
            F.sum(
                F.when(
                    (F.col("rn") > F.col("tg"))
                    & (F.col("rn") <= F.col("n") - F.col("tg")),
                    F.col("xc"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("st"),
            F.sum(wx).cast("bigint").alias("sw"),
            F.sum(wx * wx).cast("bigint").alias("qw"),
        )
        .withColumn("h", F.col("n") - 2 * F.col("tg"))
    )
    nd = F.col("n").cast("double")
    hd = F.col("h").cast("double")
    d = stats.select(
        "g",
        "n",
        "h",
        (F.col("st").cast("double") / F.col("h")).alias("tm"),
        (
            (
                nd * F.col("qw").cast("double")
                - F.col("sw").cast("double")
                * F.col("sw").cast("double")
            )
            / nd
            / (nd - 1.0)
            * (nd - 1.0)
            / (hd * (hd - 1.0))
        ).alias("dj"),
    )
    d1 = d.filter(F.col("g") == 1).select(
        F.col("n").alias("n_urgent"),
        F.col("h").cast("bigint").alias("h_urgent"),
        F.col("tm").alias("tm1"),
        F.col("dj").alias("dj1"),
    )
    d2 = d.filter(F.col("g") == 2).select(
        F.col("n").alias("n_low"),
        F.col("h").cast("bigint").alias("h_low"),
        F.col("tm").alias("tm2"),
        F.col("dj").alias("dj2"),
    )
    dsum = F.col("dj1") + F.col("dj2")
    return d1.crossJoin(F.broadcast(d2)).select(
        "n_urgent",
        "n_low",
        "h_urgent",
        "h_low",
        F.round(F.col("tm1") - F.col("tm2"), 6).alias("trimmed_diff_r"),
        F.round(
            (F.col("tm1") - F.col("tm2")) / F.sqrt(dsum), 6
        ).alias("t_yuen_r"),
        F.round(
            dsum
            * dsum
            / (
                F.col("dj1")
                * F.col("dj1")
                / (F.col("h_urgent").cast("double") - 1.0)
                + F.col("dj2")
                * F.col("dj2")
                / (F.col("h_low").cast("double") - 1.0)
            ),
            6,
        ).alias("df_r"),
    )


@query(
    "a490_hodges_lehmann",
    oracle="""
WITH obs AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS g,
         LEAST(CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT))
                    // 1000 AS BIGINT), 5000) AS v
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY user_id, g
), h1 AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM obs WHERE g = 1
  GROUP BY v
), h2 AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM obs WHERE g = 2
  GROUP BY v
), conv AS (
  SELECT h1.v - h2.v AS d, CAST(SUM(h1.c * h2.c) AS BIGINT) AS w
  FROM h1 CROSS JOIN h2
  GROUP BY h1.v - h2.v
), cum AS (
  SELECT d, w,
         CAST(SUM(w) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw,
         CAST(SUM(w) OVER () AS BIGINT) AS tot
  FROM conv
)
SELECT CAST((SELECT SUM(c) FROM h1) AS BIGINT) AS n_purchase,
       CAST((SELECT SUM(c) FROM h2) AS BIGINT) AS n_view,
       MAX(tot) AS n_pairs,
       CAST(MIN(CASE WHEN cw * 2 >= tot + 1 THEN d END) * 10
            AS BIGINT) AS hl_shift_dollars
FROM cum
""",
    tags=("inference", "stats"),
)
def a490_hodges_lehmann(spark, sf_dir):
    """Two-sample Hodges–Lehmann location shift (the median of all
    n1·n2 pairwise differences) between per-user purchase and view
    spend — the robust effect-size ESTIMATE that pairs with a004's
    Cliff's delta (which only signs the pairs) and q233's
    Mann–Whitney (which only tests). The O(n²) difference set never
    materializes per-pair: spends are quantized to a capped $10 grid
    (≤5001 levels — the cap is the 100 TB guard, same discipline as
    max_df), the two value HISTOGRAMS are convolved (grid² ≤ 25M
    weighted cells, independent of corpus size), and the weighted
    lower median comes off one cumulative window. Every count and the
    median selection are exact integers end-to-end. At 100 TB the
    corpus is touched once by the per-user fold; the convolution is
    bounded by the grid, not the data."""
    ev = table(spark, sf_dir, "events")
    obs = (
        ev.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(2)
            .alias("g"),
        )
        .agg(
            F.least(
                money_units("value", 1000),
                F.lit(5000).cast("bigint"),
            ).alias("v")
        )
    )
    h1 = (
        obs.filter(F.col("g") == 1)
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    h2 = (
        obs.filter(F.col("g") == 2)
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    conv = (
        h1.select(F.col("v").alias("v1"), F.col("c").alias("c1"))
        .crossJoin(
            h2.select(F.col("v").alias("v2"), F.col("c").alias("c2"))
        )
        .groupBy((F.col("v1") - F.col("v2")).alias("d"))
        .agg(F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("w"))
    )
    wc = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = conv.select(
        "d",
        "w",
        F.sum("w").over(wc).cast("bigint").alias("cw"),
        F.sum("w").over(wall).cast("bigint").alias("tot"),
    )
    n1 = h1.agg(F.sum("c").cast("bigint").alias("n_purchase"))
    n2 = h2.agg(F.sum("c").cast("bigint").alias("n_view"))
    med = cum.agg(
        F.max("tot").alias("n_pairs"),
        (
            F.min(
                F.when(
                    F.col("cw") * 2 >= F.col("tot") + 1, F.col("d")
                )
            )
            * 10
        )
        .cast("bigint")
        .alias("hl_shift_dollars"),
    )
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(med))
        .select("n_purchase", "n_view", "n_pairs", "hl_shift_dollars")
    )


@query(
    "a491_adjusted_rand",
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), dist AS (
  SELECT e.vec_id, e.label, c.cid,
         CAST(ROUND(list_reduce(
           list_transform(range(64), p ->
             (e.v[p + 1] - c.cv[p + 1]) * (e.v[p + 1] - c.cv[p + 1])),
           (acc, x) -> acc + x) * 1000000000000.0, 0) AS BIGINT) AS d_fp
  FROM e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, label, cid
  FROM (SELECT vec_id, label, cid,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY d_fp, cid) AS rn
        FROM dist)
  WHERE rn = 1
), ct AS (
  SELECT label, cid, CAST(COUNT(*) AS BIGINT) AS nij
  FROM assigned GROUP BY label, cid
), sums AS (
  SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS s_index,
         CAST(SUM(nij) AS BIGINT) AS n
  FROM ct
), arow AS (
  SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS s_a
  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM ct GROUP BY label)
), brow AS (
  SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS s_b
  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM ct GROUP BY cid)
)
SELECT n, s_index, s_a, s_b,
       round((CAST(s_index AS DOUBLE)
              - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
                / (CAST(n AS DOUBLE) * (n - 1) / 2.0))
             / ((CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE)) / 2.0
                - CAST(s_a AS DOUBLE) * CAST(s_b AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1) / 2.0)), 6)
         AS ari_r
FROM sums CROSS JOIN arow CROSS JOIN brow
""",
    tags=("inference", "similarity"),
)
def a491_adjusted_rand(spark, sf_dir):
    """Adjusted Rand index between the embeddings' ground-truth
    labels and the a437-convention nearest-seed-centroid clustering
    (seeds = vec_id < 8) — the chance-corrected external-validity
    score that tells a pipeline whether its cheap geometric clusters
    recover the annotated classes, completing the clustering-quality
    pair with a437's internal silhouette. Assignment is the proven
    O(n·k) fixed-point argmin (ties break on centroid id); every
    Rand pair count is an exact BIGINT binomial C(n,2) from the
    contingency fold, and the ARI is ONE expected-index formula
    evaluated on a 1-row summary. At 100 TB: one broadcast of 8
    centroids, one corpus pass, one label×cluster contingency
    shuffle (≤ labels·k cells)."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .limit(8)
    )
    d_fp = money(
        F.aggregate(
            F.zip_with(
                "v", "cv", lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        12,
    )
    dist = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "cid", d_fp.alias("d_fp")
    )
    assigned = (
        dist.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("d_fp", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cid")
    )
    ct = assigned.groupBy("label", "cid").agg(
        F.count("*").cast("bigint").alias("nij")
    )
    sums = ct.agg(
        F.sum(F.expr("nij * (nij - 1) div 2"))
        .cast("bigint")
        .alias("s_index"),
        F.sum("nij").cast("bigint").alias("n"),
    )
    arow = (
        ct.groupBy("label")
        .agg(F.sum("nij").cast("bigint").alias("ai"))
        .agg(
            F.sum(F.expr("ai * (ai - 1) div 2"))
            .cast("bigint")
            .alias("s_a")
        )
    )
    brow = (
        ct.groupBy("cid")
        .agg(F.sum("nij").cast("bigint").alias("bj"))
        .agg(
            F.sum(F.expr("bj * (bj - 1) div 2"))
            .cast("bigint")
            .alias("s_b")
        )
    )
    nd = F.col("n").cast("double")
    exp_idx = (
        F.col("s_a").cast("double")
        * F.col("s_b").cast("double")
        / (nd * (F.col("n") - 1) / 2.0)
    )
    return (
        sums.crossJoin(F.broadcast(arow))
        .crossJoin(F.broadcast(brow))
        .select(
            "n",
            "s_index",
            "s_a",
            "s_b",
            F.round(
                (F.col("s_index").cast("double") - exp_idx)
                / (
                    (
                        F.col("s_a").cast("double")
                        + F.col("s_b").cast("double")
                    )
                    / 2.0
                    - exp_idx
                ),
                6,
            ).alias("ari_r"),
        )
    )


@query(
    "a492_davies_bouldin_ch",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), dist AS (
  SELECT e.vec_id, c.cid,
         CAST(ROUND(list_reduce(
           list_transform(range(64), p ->
             (e.v[p + 1] - c.cv[p + 1]) * (e.v[p + 1] - c.cv[p + 1])),
           (acc, x) -> acc + x) * 1000000000000.0, 0) AS BIGINT) AS d_fp
  FROM e CROSS JOIN cent c
), own AS (
  SELECT vec_id, cid, d_fp
  FROM (SELECT vec_id, cid, d_fp,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY d_fp, cid) AS rn
        FROM dist)
  WHERE rn = 1
), clus AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(d_fp) AS BIGINT) AS w_i
  FROM own GROUP BY cid
), cbar AS (
  SELECT list(cb ORDER BY pos) AS cb FROM (
    SELECT pos,
           CAST(SUM(CAST(ROUND(cv[pos + 1] * 1000000000.0, 0)
                    AS BIGINT)) AS BIGINT) // 8 AS cb
    FROM cent CROSS JOIN (SELECT unnest(range(64)) AS pos)
    GROUP BY pos)
), bc AS (
  SELECT CAST(SUM(cl.n_i * CAST(ROUND(list_reduce(
           list_transform(range(64), p ->
             (c.cv[p + 1] - CAST(b.cb[p + 1] AS DOUBLE)
              / 1000000000.0)
             * (c.cv[p + 1] - CAST(b.cb[p + 1] AS DOUBLE)
                / 1000000000.0)),
           (acc, x) -> acc + x) * 1000000000000.0, 0) AS BIGINT))
         AS BIGINT) AS b_fp
  FROM cent c CROSS JOIN cbar b
  JOIN clus cl ON cl.cid = c.cid
), nt AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM clus
), cd AS (
  SELECT a.cid AS i, b.cid AS j,
         sqrt(CAST(ROUND(list_reduce(
           list_transform(range(64), p ->
             (a.cv[p + 1] - b.cv[p + 1]) * (a.cv[p + 1] - b.cv[p + 1])),
           (acc, x) -> acc + x) * 1000000000000.0, 0) AS BIGINT)
              / 1000000000000.0) AS m
  FROM cent a JOIN cent b ON a.cid <> b.cid
), sc AS (
  SELECT cid, n_i, w_i,
         sqrt(CAST(w_i AS DOUBLE) / 1000000000000.0
              / CAST(n_i AS DOUBLE)) AS s
  FROM clus
), rmax AS (
  SELECT c1.cid,
         CAST(MAX(CAST(ROUND((c1.s + c2.s) / cd.m * 1000000000.0, 0)
                       AS BIGINT)) AS BIGINT) AS r_fp
  FROM sc c1
  JOIN cd ON cd.i = c1.cid
  JOIN sc c2 ON c2.cid = cd.j
  GROUP BY c1.cid
)
SELECT (SELECT n FROM nt) AS n_points,
       CAST(8 AS BIGINT) AS k_clusters,
       round(CAST(SUM(r_fp) AS DOUBLE) / 8000000000.0, 6)
         AS db_index_r,
       round((CAST((SELECT b_fp FROM bc) AS DOUBLE) / 7.0)
             / (CAST((SELECT SUM(w_i) FROM clus) AS DOUBLE)
                / (CAST((SELECT n FROM nt) AS DOUBLE) - 8.0)), 6)
         AS ch_index_r
FROM rmax
""",
    tags=("inference", "similarity"),
)
def a492_davies_bouldin_ch(spark, sf_dir):
    """Davies–Bouldin and Calinski–Harabasz indices for the
    a437-convention seed-centroid clustering — the two internal
    validity scores (worst-pair overlap and between/within variance
    ratio) that complete the silhouette/ARI panel with the classic
    sklearn-parity diagnostics, in their fixed-center form: scatter
    S_i = √(W_i/n_i) with W_i the EXACT fixed-point squared-distance
    sum to the assigned seed (a437 machinery), CH's between-scatter is
    the DEFINITIONAL B = Σᵢ nᵢ‖cᵢ − c̄‖² around the integer-averaged
    seed mean (c̄ = (Σ round(c·10⁹)) div 8 — exact in both engines;
    the textbook shortcut B = T − W is only valid when centers are
    the actual cluster means and goes NEGATIVE for fixed seeds —
    caught by the property suite, tests/test_inference_props.py), and DB's per-cluster max ratio is an
    integer MAX over nano-quantized R_ij (≤56 pairs), so no float
    aggregation order ever matters. At 100 TB: one corpus pass
    against 8 broadcast centroids + one against the 1-row mean;
    everything after is 8 rows."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
        .limit(8)
        .localCheckpoint(eager=False)
    )
    sqd = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        money(sqd(F.col("v"), F.col("cv")), 12).alias("d_fp"),
    )
    own = (
        dist.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("d_fp", "cid")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d_fp")
    )
    clus = own.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("d_fp").cast("bigint").alias("w_i"),
    )
    cbar = (
        cent.select(F.posexplode("cv").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            money_units("x", 8, scale=9).alias("cb")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cb"))),
                lambda s: s["cb"],
            ).alias("cb")
        )
    )
    bc = (
        cent.crossJoin(F.broadcast(cbar))
        .select(
            "cid",
            money(
                F.aggregate(
                    F.zip_with(
                        "cv",
                        "cb",
                        lambda x, c: (
                            x - c.cast("double") / 1000000000.0
                        )
                        * (x - c.cast("double") / 1000000000.0),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                12,
            )
            .alias("d_fp"),
        )
        .join(F.broadcast(clus), "cid")
        .agg(
            F.sum(F.col("n_i") * F.col("d_fp"))
            .cast("bigint")
            .alias("b_fp")
        )
    )
    nt = clus.agg(F.sum("n_i").cast("bigint").alias("n"))
    cd = (
        cent.select(F.col("cid").alias("i"), F.col("cv").alias("va"))
        .crossJoin(
            F.broadcast(
                cent.select(
                    F.col("cid").alias("j"), F.col("cv").alias("vb")
                )
            )
        )
        .filter(F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.sqrt(
                money(sqd(F.col("va"), F.col("vb")), 12)
                / 1000000000000.0
            ).alias("m"),
        )
    )
    sc = clus.select(
        "cid",
        "n_i",
        "w_i",
        F.sqrt(
            F.col("w_i").cast("double")
            / 1000000000000.0
            / F.col("n_i").cast("double")
        ).alias("s"),
    )
    rmax = (
        sc.select(F.col("cid"), F.col("s").alias("s1"))
        .join(F.broadcast(cd), F.col("cid") == F.col("i"))
        .join(
            F.broadcast(
                sc.select(F.col("cid").alias("j2"), F.col("s").alias("s2"))
            ),
            F.col("j") == F.col("j2"),
        )
        .groupBy("cid")
        .agg(
            F.max(money((F.col("s1") + F.col("s2")) / F.col("m"), 9))
            .cast("bigint")
            .alias("r_fp")
        )
    )
    w_tot = clus.agg(F.sum("w_i").cast("bigint").alias("w"))
    db = rmax.agg(
        F.round(
            F.sum("r_fp").cast("double") / 8000000000.0, 6
        ).alias("db_index_r")
    )
    return (
        nt.crossJoin(F.broadcast(bc))
        .crossJoin(F.broadcast(w_tot))
        .crossJoin(F.broadcast(db))
        .select(
            F.col("n").alias("n_points"),
            F.lit(8).cast("bigint").alias("k_clusters"),
            "db_index_r",
            F.round(
                (F.col("b_fp").cast("double") / 7.0)
                / (
                    F.col("w").cast("double")
                    / (F.col("n").cast("double") - 8.0)
                ),
                6,
            ).alias("ch_index_r"),
        )
    )


@query(
    "a495_yules_k",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), tc AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS m
  FROM tok WHERE token <> '' GROUP BY token
)
SELECT CAST(SUM(m) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS v_types,
       CAST(SUM(m * m) AS BIGINT) AS s2,
       round(10000.0 * (CAST(SUM(m * m) AS DOUBLE) - SUM(m))
             / (CAST(SUM(m) AS DOUBLE) * CAST(SUM(m) AS DOUBLE)), 6)
         AS yules_k_r,
       round(1.0 - (CAST(COUNT(*) AS DOUBLE) - 1.0)
                   / CAST(SUM(m) AS DOUBLE), 6) AS simpson_ttr_gap_r
FROM tc
""",
    tags=("inference", "text"),
)
def a495_yules_k(spark, sf_dir):
    """Yule's K lexical-richness characteristic over the whole corpus
    vocabulary — the repeat-rate statistic (10⁴·(Σm²−N)/N²) that is
    text-LENGTH-INVARIANT, unlike raw type/token ratio, so it can
    compare corpora of different sizes; the complement of q156's
    per-document entropy (this is one global number from the same
    token stream). Tokenization is the q156 house tokenizer
    (lower+trim, whitespace split); the frequency spectrum moments
    Σm and Σm² are exact BIGINTs off ONE token-keyed fold, and K is
    a single division. At 100 TB: one corpus scan, one map-side-
    combined token shuffle, 1-row output."""
    d = table(spark, sf_dir, "documents")
    tc = (
        d.select(
            F.explode(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("m"))
    )
    return tc.agg(
        F.sum("m").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("v_types"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("s2"),
        F.round(
            10000.0
            * (
                F.sum(F.col("m") * F.col("m")).cast("double")
                - F.sum("m")
            )
            / (
                F.sum("m").cast("double") * F.sum("m").cast("double")
            ),
            6,
        ).alias("yules_k_r"),
        F.round(
            1.0
            - (F.count("*").cast("double") - 1.0)
            / F.sum("m").cast("double"),
            6,
        ).alias("simpson_ttr_gap_r"),
    )


_HITS_ITERS = 8
_HITS_NODES = "('click'), ('error'), ('purchase'), ('signup'), ('view')"


def _hits_oracle() -> str:
    """Generate the unrolled HITS iteration as MATERIALIZED CTEs.

    Each level is exact BIGINT arithmetic: edge weights are
    round-half-up 10⁶ shares of the total transition count, scores are
    renormalized each half-step by the floor division
    raw div (total div 10⁹) — no float ever enters the recursion, so
    DuckDB and Spark agree bit-for-bit regardless of sum order."""
    parts = [
        f"""
nodes(node) AS (VALUES {_HITS_NODES}),
edges AS MATERIALIZED (
  SELECT src, dst,
         (2000000 * w + tw) // (2 * tw) AS w_fp
  FROM (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS tw
    FROM (
      SELECT user_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS src,
             event_type AS dst
      FROM events)
    WHERE src IS NOT NULL
    GROUP BY src, dst)
),
h0 AS MATERIALIZED (
  SELECT node, CAST(1000000000 AS BIGINT) AS s FROM nodes
)"""
    ]
    for k in range(1, _HITS_ITERS + 1):
        parts.append(f"""
araw{k} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(e.w_fp * h.s) AS BIGINT) AS raw
  FROM edges e JOIN h{k - 1} h ON h.node = e.src
  GROUP BY e.dst
),
a{k} AS MATERIALIZED (
  SELECT n.node,
         COALESCE(ar.raw, 0) // (t.tot // 1000000000) AS s
  FROM nodes n
  LEFT JOIN araw{k} ar ON ar.node = n.node
  CROSS JOIN (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM araw{k}) t
),
hraw{k} AS MATERIALIZED (
  SELECT e.src AS node, CAST(SUM(e.w_fp * a.s) AS BIGINT) AS raw
  FROM edges e JOIN a{k} a ON a.node = e.dst
  GROUP BY e.src
),
h{k} AS MATERIALIZED (
  SELECT n.node,
         COALESCE(hr.raw, 0) // (t.tot // 1000000000) AS s
  FROM nodes n
  LEFT JOIN hraw{k} hr ON hr.node = n.node
  CROSS JOIN (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM hraw{k}) t
)""")
    k = _HITS_ITERS
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT h.node AS event_type,
       round(CAST(h.s AS DOUBLE) / 1000000000.0, 6) AS hub_r,
       round(CAST(a.s AS DOUBLE) / 1000000000.0, 6) AS auth_r
FROM h{k} h JOIN a{k} a ON a.node = h.node
ORDER BY event_type
"""
    )


@query(
    "a493_hits",
    oracle=_hits_oracle(),
    tags=("inference", "graph"),
)
def a493_hits(spark, sf_dir):
    """HITS hubs & authorities on the event-type transition graph —
    the link-analysis dual of q119's PageRank on the same 5-node
    Markov structure: authorities are types that high-hub types lead
    INTO (conversion sinks), hubs are types that route into high
    authorities (navigation sources). The corpus is touched once by
    the per-user lag + (src,dst) count; the 8 power iterations then
    run ENTIRELY in exact integer arithmetic — edge weights become
    round-half-up 10⁶ shares, each half-step is an exact BIGINT
    mat-vec over ≤25 edges, and L1 renormalization is the floor
    division raw div (total div 10⁹) — so no float summation order
    exists anywhere. The weighted edge list is bounded by the
    event-type vocabulary SQUARED (≤25 cells here), so after the one
    corpus-sized aggregate it comes to the driver through
    ``collect_bounded`` (the IVF-centroid / q249 bounded-collect
    pattern) and the 16 half-steps run as exact
    Python integer arithmetic — identical values to the former
    16-eager-checkpoint Spark loop (every op is an integer + / * /
    floor-div on nonnegative operands, where Python ``//`` IS SQL
    ``div``), with the final ÷10⁹ + round staying engine-side on the
    literal frame so double formation and HALF_UP rounding are
    Spark's own. A >100k-edge vocabulary (not a plausible event-type
    set) raises. At 100 TB only the lag window and first count see
    data."""
    ev = table(spark, sf_dir, "events")
    trans = (
        ev.select(
            "user_id",
            F.lag("event_type")
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    node_names = ["click", "error", "purchase", "signup", "view"]
    raw_edges = collect_bounded(trans, 100_000, "a493_hits transition table")
    tw = sum(r["w"] for r in raw_edges)
    edges = [
        (r["src"], r["dst"], (2_000_000 * r["w"] + tw) // (2 * tw))
        for r in raw_edges
    ]
    h = {n: 1_000_000_000 for n in node_names}
    a: dict[str, int] = {}
    for _ in range(_HITS_ITERS):
        # authority half-step: only edges whose src carries a hub
        # score join; ALL surviving dsts (in-node-set or not) feed
        # the normalizing total, exactly like the SQL aggregate
        araw: dict[str, int] = {}
        for src, dst, w_fp in edges:
            if src in h:
                araw[dst] = araw.get(dst, 0) + w_fp * h[src]
        atot = sum(araw.values())
        a = {n: araw.get(n, 0) // (atot // 1_000_000_000) for n in node_names}
        hraw: dict[str, int] = {}
        for src, dst, w_fp in edges:
            if dst in a:
                hraw[src] = hraw.get(src, 0) + w_fp * a[dst]
        htot = sum(hraw.values())
        h = {n: hraw.get(n, 0) // (htot // 1_000_000_000) for n in node_names}
    return literal_frame(
        spark,
        [(n, h[n], a[n]) for n in node_names],
        "node string, hs bigint, as_ bigint",
    ).select(
        F.col("node").alias("event_type"),
        F.round(F.col("hs").cast("double") / 1000000000.0, 6).alias("hub_r"),
        F.round(F.col("as_").cast("double") / 1000000000.0, 6).alias(
            "auth_r"
        ),
    ).orderBy("event_type")


_RC_KS = (1, 2, 4, 8, 16, 32)


@query(
    "a494_rich_club",
    oracle=f"""
WITH g AS (
  SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS d
  FROM events
), sz AS (
  SELECT user_id, COUNT(*) AS n FROM g GROUP BY user_id
), bs AS (
  SELECT event_type, d, COUNT(*) AS bn FROM g GROUP BY 1, 2
), gk AS (
  SELECT g.user_id, g.event_type, g.d
  FROM g JOIN bs ON g.event_type = bs.event_type AND g.d = bs.d
  WHERE bs.bn <= 4096
), co AS (
  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS i
  FROM gk a JOIN gk b
    ON a.event_type = b.event_type AND a.d = b.d
       AND a.user_id < b.user_id
  GROUP BY 1, 2
), edges AS (
  SELECT u, v FROM co
  JOIN sz sa ON sa.user_id = co.u
  JOIN sz sb ON sb.user_id = co.v
  WHERE i * 100 >= 30 * (sa.n + sb.n - i)
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
), de AS (
  SELECT e.u, e.v, du.degree AS dgu, dv.degree AS dgv
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
), ks(k) AS (VALUES {", ".join(f"({k})" for k in _RC_KS)})
SELECT k,
       CAST(COALESCE((SELECT COUNT(*) FROM deg
                      WHERE degree > k), 0) AS BIGINT) AS n_rich,
       CAST(COALESCE((SELECT COUNT(*) FROM de
                      WHERE dgu > k AND dgv > k), 0) AS BIGINT)
         AS e_rich,
       CASE WHEN (SELECT COUNT(*) FROM deg WHERE degree > k) >= 2
         THEN round(
           2.0 * CAST((SELECT COUNT(*) FROM de
                       WHERE dgu > k AND dgv > k) AS DOUBLE)
           / (CAST((SELECT COUNT(*) FROM deg
                    WHERE degree > k) AS DOUBLE)
              * (CAST((SELECT COUNT(*) FROM deg
                       WHERE degree > k) AS DOUBLE) - 1.0)), 6)
       END AS phi_r
FROM ks ORDER BY k
""",
    tags=("inference", "graph"),
)
def a494_rich_club(spark, sf_dir):
    """Rich-club coefficient φ(k) of the q146 co-visitation graph at
    degree thresholds 1..32 — the "do the hubs talk to each other"
    topology probe that complements q146's triangle census and a111's
    assortativity: φ(k) is the realized edge density among nodes of
    degree > k, so a rising φ(k) curve means high-activity users form
    a densely interlinked core. The graph build is byte-for-byte the
    q146 convention (capped (event_type, day) co-visitation buckets,
    Jaccard ≥ 0.30 with uncapped denominators) so the edge stage
    stays bounded by max_bucket²·n_buckets at any scale; degrees,
    per-threshold rich-node and rich-edge counts are exact integer
    sums — all six thresholds as accumulators of ONE global aggregate
    per table (no 6× crossJoin fan-out, no per-k groupBy shuffle),
    pivoted back to rows with stack(). Shares queries.analytics.
    covis_graph with q146 — one code path for the capped build."""
    from .analytics import covis_graph

    _, edges = covis_graph(spark, sf_dir)
    # deg is referenced three times (the n_rich aggregate + both sides
    # of the per-edge degree attach); checkpoint so the union+groupBy
    # runs once instead of once per reference
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
        .localCheckpoint(eager=False)
    )
    de = (
        edges.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed(
                "degree", "dgu"
            ),
            "u",
        )
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed(
                "degree", "dgv"
            ),
            "v",
        )
        .select("dgu", "dgv")
    )
    nr1 = deg.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("degree") > k, 1)), F.lit(0))
            .cast("bigint")
            .alias(f"nr{k}")
            for k in _RC_KS
        ]
    )
    er1 = de.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when((F.col("dgu") > k) & (F.col("dgv") > k), 1)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"er{k}")
            for k in _RC_KS
        ]
    )
    stacked = nr1.crossJoin(F.broadcast(er1)).selectExpr(
        f"stack({len(_RC_KS)}, "
        + ", ".join(f"CAST({k} AS INT), nr{k}, er{k}" for k in _RC_KS)
        + ") AS (k, n_rich, e_rich)"
    )
    nrd = F.col("n_rich").cast("double")
    return stacked.select(
        "k",
        "n_rich",
        "e_rich",
        F.when(
            F.col("n_rich") >= 2,
            F.round(
                2.0
                * F.col("e_rich").cast("double")
                / (nrd * (nrd - 1.0)),
                6,
            ),
        ).alias("phi_r"),
    ).orderBy("k")


@query(
    "a496_dersimonian_laird",
    oracle="""
WITH cells AS (
  SELECT c.c_mktsegment AS seg,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal > 0
                           AND o.o_custkey IS NOT NULL
                           THEN 1 END), 0) AS BIGINT) AS a,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal > 0
                           AND o.o_custkey IS NULL
                           THEN 1 END), 0) AS BIGINT) AS b,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal <= 0
                           AND o.o_custkey IS NOT NULL
                           THEN 1 END), 0) AS BIGINT) AS cc,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal <= 0
                           AND o.o_custkey IS NULL
                           THEN 1 END), 0) AS BIGINT) AS dd
  FROM customer c
  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
    ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
), eff AS (
  SELECT seg,
         CAST(ROUND(ln(((CAST(a AS DOUBLE) + 0.5)
                        * (CAST(dd AS DOUBLE) + 0.5))
                       / ((CAST(b AS DOUBLE) + 0.5)
                          * (CAST(cc AS DOUBLE) + 0.5)))
                    * 1000000000.0, 0) AS BIGINT) AS y_fp,
         CAST(ROUND((1.0 / (CAST(a AS DOUBLE) + 0.5)
                     + 1.0 / (CAST(b AS DOUBLE) + 0.5)
                     + 1.0 / (CAST(cc AS DOUBLE) + 0.5)
                     + 1.0 / (CAST(dd AS DOUBLE) + 0.5))
                    * 1000000000.0, 0) AS BIGINT) AS v_fp
  FROM cells
), fixed AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(1000000000.0
                  / (CAST(v_fp AS DOUBLE) / 1000000000.0), 0)
                  AS BIGINT)) AS BIGINT) AS sw_fp,
         CAST(SUM(CAST(ROUND(CAST(y_fp AS DOUBLE) / 1000000000.0
                  * (1000000000.0
                     / (CAST(v_fp AS DOUBLE) / 1000000000.0)), 0)
                  AS BIGINT)) AS BIGINT) AS swy_fp,
         CAST(SUM(CAST(ROUND((1000000000.0
                  / (CAST(v_fp AS DOUBLE) / 1000000000.0))
                  * (1.0 / (CAST(v_fp AS DOUBLE) / 1000000000.0)), 0)
                  AS BIGINT)) AS BIGINT) AS sw2_fp
  FROM eff
), q AS (
  SELECT k, sw_fp, swy_fp, sw2_fp,
         (SELECT CAST(SUM(CAST(ROUND(
             (1000000000.0 / (CAST(e.v_fp AS DOUBLE) / 1000000000.0))
             * (CAST(e.y_fp AS DOUBLE) / 1000000000.0
                - CAST(f.swy_fp AS DOUBLE) / f.sw_fp)
             * (CAST(e.y_fp AS DOUBLE) / 1000000000.0
                - CAST(f.swy_fp AS DOUBLE) / f.sw_fp), 0) AS BIGINT))
             AS BIGINT)
          FROM eff e CROSS JOIN fixed f) AS q_fp
  FROM fixed
), tau AS (
  SELECT k, q_fp,
         GREATEST(0.0,
           (CAST(q_fp AS DOUBLE) / 1000000000.0
            - (CAST(k AS DOUBLE) - 1.0))
           / (CAST(sw_fp AS DOUBLE) / 1000000000.0
              - (CAST(sw2_fp AS DOUBLE) / 1000000000.0)
                / (CAST(sw_fp AS DOUBLE) / 1000000000.0))) AS tau2
  FROM q
), pooled AS (
  SELECT t.k, t.q_fp, t.tau2,
         CAST(SUM(CAST(ROUND(1000000000.0
              / (CAST(e.v_fp AS DOUBLE) / 1000000000.0 + t.tau2), 0)
              AS BIGINT)) AS BIGINT) AS sws_fp,
         CAST(SUM(CAST(ROUND(CAST(e.y_fp AS DOUBLE) / 1000000000.0
              * (1000000000.0
                 / (CAST(e.v_fp AS DOUBLE) / 1000000000.0 + t.tau2)),
              0) AS BIGINT)) AS BIGINT) AS swsy_fp
  FROM eff e CROSS JOIN tau t
  GROUP BY t.k, t.q_fp, t.tau2
)
SELECT k AS k_strata,
       round(CAST(q_fp AS DOUBLE) / 1000000000.0, 6) AS q_r,
       round(tau2, 6) AS tau2_r,
       round(CAST(swsy_fp AS DOUBLE) / CAST(sws_fp AS DOUBLE), 6)
         AS pooled_lor_r,
       round(exp(CAST(swsy_fp AS DOUBLE) / CAST(sws_fp AS DOUBLE)), 6)
         AS pooled_or_r
FROM pooled
""",
    tags=("inference", "stats"),
)
def a496_dersimonian_laird(spark, sf_dir):
    """DerSimonian–Laird random-effects meta-analysis pooling the
    per-segment (acctbal>0 → has-orders) log-odds-ratios — the
    heterogeneity-aware counterpart of a471's Mantel–Haenszel fixed
    pooling: Cochran's Q estimates between-stratum variance τ², and
    the pooled effect reweights each stratum by 1/(v_i+τ²), which is
    what a meta-monitor should report when segment effects genuinely
    differ. Per-stratum ln-OR (Haldane 0.5) and its variance run ONCE
    per segment (5 strata) on exact 2×2 counts; every cross-stratum
    sum (Σw, Σwy, Σw², Q terms, final reweighted sums) is
    nano-quantized to BIGINT before aggregation, so no float
    summation order exists in either engine. At 100 TB the corpus is
    touched by one distinct-buyer semi-join + one segment fold;
    everything after is 5 rows."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    buyers = orders.select("o_custkey").distinct()
    cells = (
        cust.join(
            buyers.withColumnRenamed("o_custkey", "c_custkey").withColumn(
                "bought", F.lit(1)
            ),
            "c_custkey",
            "left",
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            *[
                F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
                .cast("bigint")
                .alias(nm)
                for nm, cond in (
                    (
                        "a",
                        (F.col("c_acctbal") > 0)
                        & F.col("bought").isNotNull(),
                    ),
                    (
                        "b",
                        (F.col("c_acctbal") > 0)
                        & F.col("bought").isNull(),
                    ),
                    (
                        "cc",
                        (F.col("c_acctbal") <= 0)
                        & F.col("bought").isNotNull(),
                    ),
                    (
                        "dd",
                        (F.col("c_acctbal") <= 0)
                        & F.col("bought").isNull(),
                    ),
                )
            ]
        )
    )
    h = lambda c: F.col(c).cast("double") + 0.5  # noqa: E731
    eff = cells.select(
        "seg",
        money(F.log((h("a") * h("dd")) / (h("b") * h("cc"))), 9).alias("y_fp"),
        money(1.0 / h("a") + 1.0 / h("b") + 1.0 / h("cc") + 1.0 / h("dd"), 9)
        .alias("v_fp"),
    ).localCheckpoint(eager=False)
    vd = F.col("v_fp").cast("double") / 1000000000.0
    yd = F.col("y_fp").cast("double") / 1000000000.0
    w = 1000000000.0 / vd
    fixed = eff.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.round(w, 0).cast("bigint")).cast("bigint").alias("sw_fp"),
        F.sum(F.round(yd * w, 0).cast("bigint"))
        .cast("bigint")
        .alias("swy_fp"),
        F.sum(F.round(w * (1.0 / vd), 0).cast("bigint"))
        .cast("bigint")
        .alias("sw2_fp"),
    )
    qterm = eff.crossJoin(F.broadcast(fixed)).agg(
        F.sum(
            F.round(
                w
                * (yd - F.col("swy_fp").cast("double") / F.col("sw_fp"))
                * (yd - F.col("swy_fp").cast("double") / F.col("sw_fp")),
                0,
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("q_fp")
    )
    tau = fixed.crossJoin(F.broadcast(qterm)).select(
        "k",
        "q_fp",
        F.greatest(
            F.lit(0.0),
            (
                F.col("q_fp").cast("double") / 1000000000.0
                - (F.col("k").cast("double") - 1.0)
            )
            / (
                F.col("sw_fp").cast("double") / 1000000000.0
                - (F.col("sw2_fp").cast("double") / 1000000000.0)
                / (F.col("sw_fp").cast("double") / 1000000000.0)
            ),
        ).alias("tau2"),
    )
    ws = 1000000000.0 / (vd + F.col("tau2"))
    pooled = (
        eff.crossJoin(F.broadcast(tau))
        .groupBy("k", "q_fp", "tau2")
        .agg(
            F.sum(F.round(ws, 0).cast("bigint"))
            .cast("bigint")
            .alias("sws_fp"),
            F.sum(F.round(yd * ws, 0).cast("bigint"))
            .cast("bigint")
            .alias("swsy_fp"),
        )
    )
    mu = F.col("swsy_fp").cast("double") / F.col("sws_fp").cast("double")
    return pooled.select(
        F.col("k").alias("k_strata"),
        F.round(F.col("q_fp").cast("double") / 1000000000.0, 6).alias(
            "q_r"
        ),
        F.round("tau2", 6).alias("tau2_r"),
        F.round(mu, 6).alias("pooled_lor_r"),
        F.round(F.exp(mu), 6).alias("pooled_or_r"),
    )


@query(
    "a497_weighted_reservoir",
    oracle="""
WITH u AS (
  SELECT doc_id, source, n_chars,
         (CAST(('0x' || substr(md5('wr|' || CAST(doc_id AS VARCHAR)),
                               1, 13)) AS BIGINT) + 1.0)
           / 4503599627370497.0 AS uni
  FROM documents WHERE n_chars > 0
), keyed AS (
  SELECT doc_id, source, n_chars,
         ln(uni) / CAST(n_chars AS DOUBLE) AS k
  FROM u
), ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (ORDER BY k DESC, doc_id) AS rn
  FROM keyed
)
SELECT CAST(COUNT(*) AS BIGINT) AS k_sampled,
       CAST(bit_xor(doc_id) AS BIGINT) AS sample_xor,
       CAST(SUM(n_chars) AS BIGINT) AS sample_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM ranked WHERE rn <= 100
""",
    tags=("inference", "curation"),
)
def a497_weighted_reservoir(spark, sf_dir):
    """Efraimidis–Spirakis weighted reservoir sample: 100 documents
    drawn WITHOUT replacement with probability proportional to length
    — the distributed one-pass equivalent of weighted reservoir
    sampling (rank every item by ln(u)/w for a per-item uniform u and
    keep the top k), which q93's uniform hash sample and q147's PPS
    systematic sample cannot express (ES is exactly
    probability-proportional WITHOUT replacement). The uniform comes
    from a 52-bit md5 slice of the doc id, so the draw is
    deterministic and both engines rank the SAME (u, w) pairs — the
    selection depends only on key ORDER, never on key magnitude
    (q240 sign-determinism argument), and the reported aggregates are
    exact integers. At 100 TB this is one scan + one top-k (the rank
    window never materializes beyond the scan; a TopK rewrite or
    per-partition heap serves it)."""
    d = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    uni = (
        md5_bits(F.concat(F.lit("wr|"), F.col("doc_id").cast("string")), 13)
        + 1.0
    ) / 4503599627370497.0
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        (F.log(uni) / F.col("n_chars").cast("double")).alias("k"),
    )
    ranked = keyed.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(Window.orderBy(F.col("k").desc(), "doc_id"))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") <= 100).agg(
        F.count("*").cast("bigint").alias("k_sampled"),
        F.bit_xor("doc_id").cast("bigint").alias("sample_xor"),
        F.sum("n_chars").cast("bigint").alias("sample_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )


_ABS_ITERS = 24
_ABS_STATES = ("click", "error", "signup", "view")  # transient; purchase absorbs


def _absorbing_oracle() -> str:
    states = ", ".join(f"('{s}')" for s in _ABS_STATES)
    parts = [
        f"""
tstates(s) AS (VALUES {states}),
trans AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM (
    SELECT lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS src,
           event_type AS dst
    FROM events)
  WHERE src IS NOT NULL AND src <> 'purchase'
  GROUP BY src, dst
), rows_ AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS tot FROM trans GROUP BY src
), q AS MATERIALIZED (
  SELECT t.src, t.dst,
         (2000000 * t.w + r.tot) // (2 * r.tot) AS p_fp
  FROM trans t JOIN rows_ r ON r.src = t.src
  WHERE t.dst <> 'purchase'
),
v0 AS MATERIALIZED (SELECT s, CAST(0 AS BIGINT) AS v FROM tstates)"""
    ]
    for k in range(1, _ABS_ITERS + 1):
        parts.append(f"""
v{k} AS MATERIALIZED (
  SELECT n.s,
         1000000 + COALESCE(
           (SELECT CAST(SUM(q.p_fp * p.v) AS BIGINT) // 1000000
            FROM q JOIN v{k - 1} p ON p.s = q.dst
            WHERE q.src = n.s), 0) AS v
  FROM tstates n
)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT s AS start_state,
       round(CAST(v AS DOUBLE) / 1000000.0, 6) AS exp_steps_r
FROM v{_ABS_ITERS} ORDER BY start_state
"""
    )


@query(
    "a498_absorbing_markov",
    oracle=_absorbing_oracle(),
    tags=("inference", "graph"),
)
def a498_absorbing_markov(spark, sf_dir):
    """Expected steps to 'purchase' absorption from each transient
    event state, by 24 rounds of exact value iteration v ← 1 + Q·v on
    the row-normalized transient transition matrix — the absorbing-
    chain companion to q119's PageRank and a025's HITS on the same
    5-state structure (the fundamental-matrix quantity N·1, computed
    as its geometric series truncated at 24 terms, which both engines
    evaluate IDENTICALLY: row shares are round-half-up 10⁶ integers,
    each iteration is an exact BIGINT mat-vec with a floor div, so
    parity is exact by construction; the truncation residual ~ρ²⁴ is
    a documented property of the statistic, not an engine artifact).
    At 100 TB only the lag window and the (src,dst) count see the
    corpus. The transient transition table is bounded by the
    event-type vocabulary squared (≤16 transient cells here), so it
    comes to the driver through ``collect_bounded`` after the one
    corpus aggregate (the q249 / a493 bounded-collect pattern) and the
    24 value-iteration rounds
    run as exact Python integers — every op is + / * / floor-div on
    nonnegative BIGINTs, where Python ``//`` IS SQL ``div``, so the
    trajectory is bit-identical to the former 6-checkpoint Spark
    loop; the final ÷10⁶ + round stays engine-side on the literal
    frame. A >100k-cell vocabulary raises."""
    ev = table(spark, sf_dir, "events")
    trans = (
        ev.select(
            F.lag("event_type")
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("src"),
            F.col("event_type").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & (F.col("src") != "purchase"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    raw_rows = collect_bounded(
        trans, 100_000, "a498_absorbing_markov transition table"
    )
    tot_by_src: dict[str, int] = {}
    for r in raw_rows:
        tot_by_src[r["src"]] = tot_by_src.get(r["src"], 0) + r["w"]
    q_entries = [
        (
            r["src"],
            r["dst"],
            (2_000_000 * r["w"] + tot_by_src[r["src"]])
            // (2 * tot_by_src[r["src"]]),
        )
        for r in raw_rows
        if r["dst"] != "purchase"
    ]
    v = {s: 0 for s in _ABS_STATES}
    for _ in range(_ABS_ITERS):
        inc: dict[str, int] = {}
        for src, dst, p_fp in q_entries:
            if dst in v:
                inc[src] = inc.get(src, 0) + p_fp * v[dst]
        v = {
            s: 1_000_000 + inc.get(s, 0) // 1_000_000
            for s in _ABS_STATES
        }
    return literal_frame(
        spark, [(s, v[s]) for s in _ABS_STATES], "s string, v bigint"
    ).select(
        F.col("s").alias("start_state"),
        F.round(F.col("v").cast("double") / 1000000.0, 6).alias(
            "exp_steps_r"
        ),
    ).orderBy("start_state")


# Erlang B recurrence B_k = a·B_{k−1}/(k + a·B_{k−1}) unrolled for
# c = 1..8 as ONE shared expression-text table (the _DL_LEVELS recipe):
# both engines chain the identical double ops on the identical offered
# load, so every B_c and C_c matches bit-for-bit.
_ERLANG_LEVELS = tuple(
    (f"b{k}", f"(a * b{k - 1}) / ({k}.0 + a * b{k - 1})")
    for k in range(1, 9)
)


def _erlang_sql_chain(inner: str) -> str:
    sql = inner
    for name, expr in _ERLANG_LEVELS:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


@query(
    "a499_erlang_c",
    oracle=f"""
WITH span AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS us
  FROM events
), load AS (
  SELECT n,
         CAST(n AS DOUBLE) * 3600000000.0 / CAST(us AS DOUBLE)
           / CAST(50 AS DOUBLE) AS a,
         CAST(1.0 AS DOUBLE) AS b0
  FROM span
)
SELECT n AS n_events,
       round(a, 6) AS offered_load_r,
       round(b8, 6) AS erlang_b8_r,
       CASE WHEN 4.0 > a THEN
         round((b4) / (1.0 - (a / 4.0) * (1.0 - b4)), 6) END
         AS erlang_c4_r,
       CASE WHEN 8.0 > a THEN
         round((b8) / (1.0 - (a / 8.0) * (1.0 - b8)), 6) END
         AS erlang_c8_r
FROM ({_erlang_sql_chain("SELECT * FROM load")}) q
""",
    tags=("inference", "stats"),
)
def a499_erlang_c(spark, sf_dir):
    """Erlang B blocking and Erlang C wait probabilities for the event
    stream treated as an arrival process against a 50-jobs/hour
    service rate — the staffing closed forms that extend a398's M/M/1
    single-server estimates to the c-server case operations teams
    actually size for. The offered load a = λ/μ comes from exact
    integer arrival counts over the exact µs span; the Erlang B
    recurrence B_k = a·B_{k−1}/(k + a·B_{k−1}) runs once on that
    1-row summary through _ERLANG_LEVELS — the SAME expression text
    on both sides (the _DL_LEVELS determinism recipe) — and Erlang C
    converts B at c = 4 and 8 (NULL when the load exceeds the servers
    and no steady state exists). At 100 TB the corpus is touched by
    one count/min/max fold; everything else is one row."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias(
            "us"
        ),
    )
    load = span.select(
        "n",
        (
            F.col("n").cast("double")
            * 3600000000.0
            / F.col("us").cast("double")
            / F.lit(50).cast("double")
        ).alias("a"),
        F.lit(1.0).cast("double").alias("b0"),
    )
    out = load
    for name, expr in _ERLANG_LEVELS:
        out = out.selectExpr("*", f"{expr} AS {name}")
    return out.select(
        F.col("n").alias("n_events"),
        F.round("a", 6).alias("offered_load_r"),
        F.round("b8", 6).alias("erlang_b8_r"),
        F.when(
            F.lit(4.0) > F.col("a"),
            F.round(
                F.col("b4")
                / (1.0 - (F.col("a") / 4.0) * (1.0 - F.col("b4"))),
                6,
            ),
        ).alias("erlang_c4_r"),
        F.when(
            F.lit(8.0) > F.col("a"),
            F.round(
                F.col("b8")
                / (1.0 - (F.col("a") / 8.0) * (1.0 - F.col("b8"))),
                6,
            ),
        ).alias("erlang_c8_r"),
    )


def _decay_rows():
    """Half-life-7-day decay factors for integer ages 0..30, at 1e9
    fixed point — Python-generated literals embedded in both plans
    (the a443/a016 constant-table recipe), so the decayed sum is an
    exact BIGINT in both engines."""
    rows = []
    for d in range(31):
        rows.append((d, int(round(2.0 ** (-d / 7.0) * 1000000000.0))))
    return rows


_DECAY_ROWS = _decay_rows()
_DECAY_VALUES = ", ".join(f"({d}, {w})" for d, w in _DECAY_ROWS)


@query(
    "a500_decay_weighted_engagement",
    oracle=f"""
WITH mx AS (
  SELECT MAX(epoch_us(ts)) AS m FROM events
), aged AS (
  SELECT e.user_id,
         LEAST(CAST((x.m - epoch_us(e.ts)) // 86400000000 AS BIGINT),
               30) AS age,
         CAST(ROUND(e.value * 100.0, 0) AS BIGINT) AS vc
  FROM events e CROSS JOIN mx x
), decay(age, w_fp) AS (VALUES {_DECAY_VALUES}),
scored AS (
  SELECT a.user_id,
         CAST(SUM(a.vc * d.w_fp) AS BIGINT) AS s_fp
  FROM aged a JOIN decay d ON d.age = a.age
  GROUP BY a.user_id
), hist AS (
  SELECT LEAST(s_fp // 100000000000, 5000) AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(s_fp) AS BIGINT) AS s
  FROM scored GROUP BY b
), cum AS (
  SELECT b, cnt, s,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY b
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cb,
         CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM hist
)
SELECT LEAST(CAST(9 AS BIGINT), cb * 10 // n) AS decile,
       CAST(SUM(cnt) AS BIGINT) AS n_users,
       round(CAST(SUM(s) AS DOUBLE) / 100000000000.0 / SUM(cnt), 6)
         AS avg_decayed_dollars_r
FROM cum GROUP BY decile ORDER BY decile
""",
    tags=("inference", "events"),
)
def a500_decay_weighted_engagement(spark, sf_dir):
    """Half-life-decayed engagement value per user (7-day half-life,
    ages capped at 30 days), summarized as a decile profile — the
    recency-weighted LTV signal that q149's EWMA (a sequential series
    smoother) and q220's RFM (hard recency buckets) don't give: every
    event contributes value·2^(−age/7), so yesterday counts ~90% and
    last month ~5%. The decay curve is a 31-entry fixed-point integer
    literal table generated once in Python (a016/a443 recipe), ages
    are exact integer day floors against the corpus max timestamp, so
    every per-user score is an exact BIGINT — no per-row
    transcendental, no float sum order. The decile split runs on a CAPPED whole-dollar
    histogram of the scores (≤5001 cells) — a bounded cumulative
    window, never a global per-user sort — so boundaries land on grid
    cells and whole cells stay together (documented grid-decile
    semantics), deterministic at any corpus scale. At 100 TB: one
    corpus scan, a broadcast 1-row max + 31-row decay join, one
    user-keyed fold."""
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("m"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.least(
            F.expr("(m - unix_micros(ts)) div 86400000000").cast(
                "bigint"
            ),
            F.lit(30).cast("bigint"),
        ).alias("age"),
        money("value").alias("vc"),
    )
    decay = literal_frame(spark, _DECAY_ROWS, "age bigint, w_fp bigint")
    scored = (
        aged.join(F.broadcast(decay), "age")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("vc") * F.col("w_fp"))
            .cast("bigint")
            .alias("s_fp")
        )
    )
    hist = scored.groupBy(
        F.least(
            F.expr("s_fp div 100000000000"), F.lit(5000).cast("bigint")
        ).alias("b")
    ).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("s_fp").cast("bigint").alias("s"),
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "cnt",
        "s",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0))
        .cast("bigint")
        .alias("cb"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
    )
    return (
        cum.groupBy(
            F.least(
                F.lit(9).cast("bigint"), F.expr("cb * 10 div n")
            ).alias("decile")
        )
        .agg(
            F.sum("cnt").cast("bigint").alias("n_users"),
            F.round(
                F.sum("s").cast("double")
                / 100000000000.0
                / F.sum("cnt"),
                6,
            ).alias("avg_decayed_dollars_r"),
        )
        .orderBy("decile")
    )


@query(
    "a501_intersect_except",
    oracle="""
WITH vd AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE event_type = 'view'
), pd AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE event_type = 'purchase'
), vm AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE event_type = 'view'
), pm AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events WHERE event_type = 'purchase'
), i_set AS (SELECT * FROM vd INTERSECT SELECT * FROM pd),
e_set AS (SELECT * FROM vd EXCEPT SELECT * FROM pd),
i_all AS (SELECT * FROM vm INTERSECT ALL SELECT * FROM pm),
e_all AS (SELECT * FROM vm EXCEPT ALL SELECT * FROM pm)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM i_set) AS n_intersect,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e_set) AS n_except,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM i_all)
         AS n_intersect_all,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e_all) AS n_except_all,
       (SELECT CAST(COALESCE(bit_xor(user_id * 1000 + CAST(
           date_part('day', d) AS BIGINT)), 0) AS BIGINT)
        FROM i_set) AS intersect_xor,
       (SELECT CAST(COALESCE(bit_xor(user_id * 1000 + CAST(
           date_part('day', d) AS BIGINT)), 0) AS BIGINT)
        FROM e_set) AS except_xor
""",
    tags=("inference", "sql"),
)
def a501_intersect_except(spark, sf_dir):
    """INTERSECT / EXCEPT / INTERSECT ALL / EXCEPT ALL over the
    (user, day) view-vs-purchase activity sets — the four ANSI set
    operators, the one relational-surface family the inventory had
    not yet exercised (q61 covers UNION/distinct). The DISTINCT
    variants run on deduplicated day-sets, the ALL variants on the
    raw multisets (bag semantics: EXCEPT ALL subtracts
    multiplicities), and the result is pinned by exact counts plus an
    order-independent bit_xor checksum of the distinct rows. Spark
    plans these as aggregate+join rewrites — at 100 TB each is one
    shuffle on the compared key, same cost class as the equivalent
    groupBy, with partial aggregation map-side."""
    ev = table(spark, sf_dir, "events")

    def side(t):
        return ev.filter(F.col("event_type") == t).select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
        )

    vm, pm = side("view"), side("purchase")
    vd, pd_ = vm.distinct(), pm.distinct()
    i_set = vd.intersect(pd_)
    e_set = vd.subtract(pd_)
    i_all = vm.intersectAll(pm)
    e_all = vm.exceptAll(pm)
    chk = F.coalesce(
        F.bit_xor(
            F.col("user_id") * 1000
            + F.dayofmonth("d").cast("bigint")
        ),
        F.lit(0),
    ).cast("bigint")
    parts = [
        i_set.agg(
            F.count("*").cast("bigint").alias("n_intersect"),
            chk.alias("intersect_xor"),
        ),
        e_set.agg(
            F.count("*").cast("bigint").alias("n_except"),
            chk.alias("except_xor"),
        ),
        i_all.agg(F.count("*").cast("bigint").alias("n_intersect_all")),
        e_all.agg(F.count("*").cast("bigint").alias("n_except_all")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(F.broadcast(p))
    return out.select(
        "n_intersect",
        "n_except",
        "n_intersect_all",
        "n_except_all",
        "intersect_xor",
        "except_xor",
    )


@query(
    "a502_page_trend",
    oracle="""
WITH m AS (
  SELECT user_id,
         CAST(date_part('day', ts) AS BIGINT) AS d
  FROM events
), per AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN d <= 10 THEN 1 END), 0)
              AS BIGINT) AS x1,
         CAST(COALESCE(SUM(CASE WHEN d > 10 AND d <= 20 THEN 1 END),
                       0) AS BIGINT) AS x2,
         CAST(COALESCE(SUM(CASE WHEN d > 20 THEN 1 END), 0)
              AS BIGINT) AS x3
  FROM m GROUP BY user_id
), rk AS (
  SELECT user_id,
         2 + 2 * (CASE WHEN x2 < x1 THEN 1 ELSE 0 END
                  + CASE WHEN x3 < x1 THEN 1 ELSE 0 END)
           + (CASE WHEN x2 = x1 THEN 1 ELSE 0 END
              + CASE WHEN x3 = x1 THEN 1 ELSE 0 END) AS r1,
         2 + 2 * (CASE WHEN x1 <  x2 THEN 1 ELSE 0 END
                  + CASE WHEN x3 < x2 THEN 1 ELSE 0 END)
           + (CASE WHEN x1 = x2 THEN 1 ELSE 0 END
              + CASE WHEN x3 = x2 THEN 1 ELSE 0 END) AS r2,
         2 + 2 * (CASE WHEN x1 < x3 THEN 1 ELSE 0 END
                  + CASE WHEN x2 < x3 THEN 1 ELSE 0 END)
           + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END
              + CASE WHEN x2 = x3 THEN 1 ELSE 0 END) AS r3
  FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(1 * r1 + 2 * r2 + 3 * r3) AS BIGINT) AS l2_stat,
       round((CAST(SUM(1 * r1 + 2 * r2 + 3 * r3) AS DOUBLE)
              - 24.0 * COUNT(*))
             / (2.0 * sqrt(2.0 * CAST(COUNT(*) AS DOUBLE))), 6)
         AS z_page_r
FROM rk
""",
    tags=("inference", "stats"),
)
def a502_page_trend(spark, sf_dir):
    """Page's L trend test for ordered repeated measures — does
    per-user activity MONOTONICALLY rise across the month's three
    decades? — the ordered-alternative sharpening of a411's Friedman
    (which only detects SOME difference; Page weights the within-user
    ranks by the hypothesized order, so a consistent drift shows up
    at far smaller samples). Within-user midranks of the 3 period
    counts are exact DOUBLED integers from pairwise CASE comparisons
    (no sort), L is one exact BIGINT fold, and the z readout uses the
    classical null moments E[L]=12n, Var[L]=2n for k=3 (midranks
    under ties, documented). One corpus scan, one user fold, 1-row
    output at any scale."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        *[
            F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
            .cast("bigint")
            .alias(f"x{i}")
            for i, cond in (
                (1, F.dayofmonth("ts") <= 10),
                (
                    2,
                    (F.dayofmonth("ts") > 10)
                    & (F.dayofmonth("ts") <= 20),
                ),
                (3, F.dayofmonth("ts") > 20),
            )
        ]
    )

    def r2(j, a, b):
        xj, xa, xb = F.col(j), F.col(a), F.col(b)
        less = F.when(xa < xj, 1).otherwise(0) + F.when(
            xb < xj, 1
        ).otherwise(0)
        eq = F.when(xa == xj, 1).otherwise(0) + F.when(
            xb == xj, 1
        ).otherwise(0)
        return 2 + 2 * less + eq

    rk = per.select(
        r2("x1", "x2", "x3").alias("r1"),
        r2("x2", "x1", "x3").alias("r2"),
        r2("x3", "x1", "x2").alias("r3"),
    )
    l2 = F.sum(
        1 * F.col("r1") + 2 * F.col("r2") + 3 * F.col("r3")
    ).cast("bigint")
    return rk.agg(
        F.count("*").cast("bigint").alias("n_users"),
        l2.alias("l2_stat"),
        F.round(
            (l2.cast("double") - 24.0 * F.count("*"))
            / (2.0 * F.sqrt(2.0 * F.count("*").cast("double"))),
            6,
        ).alias("z_page_r"),
    )


@query(
    "a503_quade_test",
    oracle="""
WITH per AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN date_part('day', ts) <= 10
                           THEN 1 END), 0) AS BIGINT) AS x1,
         CAST(COALESCE(SUM(CASE WHEN date_part('day', ts) > 10
                           AND date_part('day', ts) <= 20
                           THEN 1 END), 0) AS BIGINT) AS x2,
         CAST(COALESCE(SUM(CASE WHEN date_part('day', ts) > 20
                           THEN 1 END), 0) AS BIGINT) AS x3
  FROM events GROUP BY user_id
), rng AS (
  SELECT user_id, x1, x2, x3,
         LEAST(GREATEST(x1, x2, x3) - LEAST(x1, x2, x3), 5000) AS dv
  FROM per
), dh AS (
  SELECT dv, CAST(COUNT(*) AS BIGINT) AS cnt FROM rng GROUP BY dv
), dq AS (
  SELECT dv,
         2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY dv
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + cnt + 1 AS q2
  FROM dh
), rk AS (
  SELECT r.user_id, d.q2,
         2 + 2 * (CASE WHEN x2 < x1 THEN 1 ELSE 0 END
                  + CASE WHEN x3 < x1 THEN 1 ELSE 0 END)
           + (CASE WHEN x2 = x1 THEN 1 ELSE 0 END
              + CASE WHEN x3 = x1 THEN 1 ELSE 0 END) AS r1,
         2 + 2 * (CASE WHEN x1 < x2 THEN 1 ELSE 0 END
                  + CASE WHEN x3 < x2 THEN 1 ELSE 0 END)
           + (CASE WHEN x1 = x2 THEN 1 ELSE 0 END
              + CASE WHEN x3 = x2 THEN 1 ELSE 0 END) AS r2,
         2 + 2 * (CASE WHEN x1 < x3 THEN 1 ELSE 0 END
                  + CASE WHEN x2 < x3 THEN 1 ELSE 0 END)
           + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END
              + CASE WHEN x2 = x3 THEN 1 ELSE 0 END) AS r3
  FROM rng r JOIN dq d ON d.dv = r.dv
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q2 * (r1 - 4)) AS BIGINT) AS s1,
         CAST(SUM(q2 * (r2 - 4)) AS BIGINT) AS s2,
         CAST(SUM(q2 * (r3 - 4)) AS BIGINT) AS s3,
         CAST(SUM(q2 * (r1 - 4) * q2 * (r1 - 4))
              + SUM(q2 * (r2 - 4) * q2 * (r2 - 4))
              + SUM(q2 * (r3 - 4) * q2 * (r3 - 4)) AS BIGINT) AS a16
  FROM rk
)
SELECT n AS n_users,
       round((CAST(s1 AS DOUBLE) * s1 + CAST(s2 AS DOUBLE) * s2
              + CAST(s3 AS DOUBLE) * s3) / n, 2) AS b16_r,
       round((CAST(n AS DOUBLE) - 1.0)
             * ((CAST(s1 AS DOUBLE) * s1 + CAST(s2 AS DOUBLE) * s2
                 + CAST(s3 AS DOUBLE) * s3) / n)
             / (CAST(a16 AS DOUBLE)
                - (CAST(s1 AS DOUBLE) * s1 + CAST(s2 AS DOUBLE) * s2
                   + CAST(s3 AS DOUBLE) * s3) / n), 6) AS f_quade_r
FROM s
""",
    tags=("inference", "stats"),
)
def a503_quade_test(spark, sf_dir):
    """Quade test on the user × month-decade activity matrix — the
    repeated-measures test that WEIGHTS each user (block) by how much
    their activity actually varies, so high-signal users dominate
    where a411's Friedman counts every block equally (Conover's
    recommendation for k ≤ 4). Block weights are midranks of the
    capped block RANGE taken from a bounded value histogram + one
    cumulative window (never a global per-user sort — same grid
    discipline as a032), within-user midranks are doubled-integer
    CASE comparisons, so every S_ij = Q_i(r_ij − (k+1)/2) is an exact
    scaled BIGINT and the F statistic is one closed-form readout.
    One corpus scan, one user fold, grid-sized window at any
    scale."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        *[
            F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
            .cast("bigint")
            .alias(f"x{i}")
            for i, cond in (
                (1, F.dayofmonth("ts") <= 10),
                (
                    2,
                    (F.dayofmonth("ts") > 10)
                    & (F.dayofmonth("ts") <= 20),
                ),
                (3, F.dayofmonth("ts") > 20),
            )
        ]
    )
    rng = per.select(
        "user_id",
        "x1",
        "x2",
        "x3",
        F.least(
            F.greatest("x1", "x2", "x3") - F.least("x1", "x2", "x3"),
            F.lit(5000).cast("bigint"),
        ).alias("dv"),
    )
    dh = rng.groupBy("dv").agg(F.count("*").cast("bigint").alias("cnt"))
    wb = Window.orderBy("dv").rowsBetween(Window.unboundedPreceding, -1)
    dq = dh.select(
        "dv",
        (
            2 * F.coalesce(F.sum("cnt").over(wb), F.lit(0)).cast("bigint")
            + F.col("cnt")
            + 1
        ).alias("q2"),
    )

    def r2(j, a, b):
        xj, xa, xb = F.col(j), F.col(a), F.col(b)
        less = F.when(xa < xj, 1).otherwise(0) + F.when(
            xb < xj, 1
        ).otherwise(0)
        eq = F.when(xa == xj, 1).otherwise(0) + F.when(
            xb == xj, 1
        ).otherwise(0)
        return 2 + 2 * less + eq

    rk = rng.join(F.broadcast(dq), "dv").select(
        "q2",
        r2("x1", "x2", "x3").alias("r1"),
        r2("x2", "x1", "x3").alias("r2"),
        r2("x3", "x1", "x2").alias("r3"),
    )
    s = rk.agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            F.sum(F.col("q2") * (F.col(f"r{j}") - 4))
            .cast("bigint")
            .alias(f"s{j}")
            for j in (1, 2, 3)
        ],
        sum(
            (
                F.sum(
                    F.col("q2")
                    * (F.col(f"r{j}") - 4)
                    * F.col("q2")
                    * (F.col(f"r{j}") - 4)
                )
                for j in (2, 3)
            ),
            F.sum(
                F.col("q2")
                * (F.col("r1") - 4)
                * F.col("q2")
                * (F.col("r1") - 4)
            ),
        )
        .cast("bigint")
        .alias("a16"),
    )
    b16 = (
        F.col("s1").cast("double") * F.col("s1")
        + F.col("s2").cast("double") * F.col("s2")
        + F.col("s3").cast("double") * F.col("s3")
    ) / F.col("n")
    return s.select(
        F.col("n").alias("n_users"),
        F.round(b16, 2).alias("b16_r"),
        F.round(
            (F.col("n").cast("double") - 1.0)
            * b16
            / (F.col("a16").cast("double") - b16),
            6,
        ).alias("f_quade_r"),
    )


@query(
    "a504_cox_stuart",
    oracle=f"""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), nn_ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (CAST(COUNT(*) AS BIGINT) + 1) // 2 AS h
  FROM ts_
), pairs AS (
  SELECT a.y AS y1, b.y AS y2
  FROM ts_ a CROSS JOIN nn_ n JOIN ts_ b ON b.t = a.t + n.h
  WHERE a.t <= n.n // 2
), signs AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN y2 > y1 THEN 1 END), 0)
              AS BIGINT) AS pos,
         CAST(COALESCE(SUM(CASE WHEN y2 < y1 THEN 1 END), 0)
              AS BIGINT) AS neg
  FROM pairs
), st AS (
  SELECT pos, neg, pos + neg AS nn,
         LEAST(pos, neg) AS tt
  FROM signs
), terms AS (
  SELECT nn, pos, neg, tt,
         unnest(generate_series(CAST(0 AS BIGINT), tt)) AS k
  FROM st
), probs AS (
  SELECT nn, pos, neg, tt,
         CAST(ROUND(exp({_lf('nn')} - {_lf('k')} - {_lf('(nn - k)')}
                        - CAST(nn AS DOUBLE)
                          * CAST(0.6931471805599453 AS DOUBLE))
                    * 1000000000000.0, 0) AS BIGINT) AS p_fp
  FROM terms
)
SELECT MAX(pos) AS n_up, MAX(neg) AS n_down,
       round(LEAST(CAST(1.0 AS DOUBLE),
                   2.0 * CAST(SUM(p_fp) AS DOUBLE)
                   / 1000000000000.0), 6) AS p_two_sided_r
FROM probs
""",
    tags=("inference", "timeseries"),
)
def a504_cox_stuart(spark, sf_dir):
    """Cox–Stuart sign test for monotone trend in daily revenue —
    the distribution-free trend detector that pairs the series' first
    half against its second half (x_i vs x_{i+h}) and asks whether
    the up-signs are binomially plausible; the EXACT-p complement of
    q273's asymptotic Mann–Kendall z (Cox–Stuart is the classic
    "quick and valid under any distribution" check). The sign counts
    are exact integer folds of a summary-sized self-join; the exact
    binomial tail Σ C(N,k)/2^N reuses a009's shared lgamma SQL text
    with every term PICO-QUANTIZED to BIGINT before the sum, so no
    float summation order exists. One corpus touch (daily groupBy);
    the tail unroll is ≤ N/2 ≈ 600 rows off a 1-row bound."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    nn_ = ts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("(CAST(COUNT(*) AS BIGINT) + 1) div 2").alias("h"),
    )
    a = ts.select(F.col("y").alias("y1"), F.col("t").alias("t1"))
    b = ts.select(F.col("y").alias("y2"), F.col("t").alias("t2"))
    pairs = (
        a.crossJoin(F.broadcast(nn_))
        .filter(F.col("t1") <= F.expr("n div 2"))
        .join(b, F.col("t2") == F.col("t1") + F.col("h"))
    )
    signs = pairs.agg(
        F.coalesce(F.sum(F.when(F.col("y2") > F.col("y1"), 1)), F.lit(0))
        .cast("bigint")
        .alias("pos"),
        F.coalesce(F.sum(F.when(F.col("y2") < F.col("y1"), 1)), F.lit(0))
        .cast("bigint")
        .alias("neg"),
    )
    st = signs.select(
        "pos",
        "neg",
        (F.col("pos") + F.col("neg")).alias("nn"),
        F.least("pos", "neg").alias("tt"),
    )
    terms = st.select(
        "pos",
        "neg",
        "nn",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("tt"))
        ).alias("k"),
    )
    p_fp = money(
        F.expr(
            f"exp({_lf('nn')} - {_lf('k')} - {_lf('(nn - k)')}"
            " - CAST(nn AS DOUBLE)"
            " * CAST(0.6931471805599453 AS DOUBLE))"
        ),
        12,
    )
    return terms.select("pos", "neg", p_fp.alias("p_fp")).agg(
        F.max("pos").alias("n_up"),
        F.max("neg").alias("n_down"),
        F.round(
            F.least(
                F.lit(1.0).cast("double"),
                2.0 * F.sum("p_fp").cast("double") / 1000000000000.0,
            ),
            6,
        ).alias("p_two_sided_r"),
    )


@query(
    "a505_kpss",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 10000 AS BIGINT) AS y
  FROM orders GROUP BY d
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), mu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         (2 * CAST(SUM(y) AS BIGINT) + COUNT(*))
           // (2 * COUNT(*)) AS ym
  FROM ts_
), dev AS (
  SELECT t.t, CAST(t.y - m.ym AS BIGINT) AS dv, m.n
  FROM ts_ t CROSS JOIN mu m
), ps AS (
  SELECT t, dv, n,
         CAST(SUM(dv) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s,
         lead(dv, 1) OVER (ORDER BY t) AS d1,
         lead(dv, 2) OVER (ORDER BY t) AS d2,
         lead(dv, 3) OVER (ORDER BY t) AS d3,
         lead(dv, 4) OVER (ORDER BY t) AS d4
  FROM dev
), agg_ AS (
  SELECT MAX(n) AS n,
         CAST(SUM(s * s) AS BIGINT) AS ss2,
         CAST(SUM(dv * dv) AS BIGINT) AS c0,
         CAST(COALESCE(SUM(dv * d1), 0) AS BIGINT) AS c1,
         CAST(COALESCE(SUM(dv * d2), 0) AS BIGINT) AS c2,
         CAST(COALESCE(SUM(dv * d3), 0) AS BIGINT) AS c3,
         CAST(COALESCE(SUM(dv * d4), 0) AS BIGINT) AS c4
  FROM ps
)
SELECT n AS n_days,
       round(CAST(5 * ss2 AS DOUBLE)
             / (CAST(n AS DOUBLE)
                * CAST(5 * c0 + 2 * (4 * c1 + 3 * c2 + 2 * c3 + c4)
                       AS DOUBLE)), 6) AS kpss_eta_r,
       CASE WHEN CAST(5 * ss2 AS DOUBLE)
                 / (CAST(n AS DOUBLE)
                    * CAST(5 * c0 + 2 * (4 * c1 + 3 * c2 + 2 * c3
                           + c4) AS DOUBLE)) > 0.463
            THEN 'reject_level_stationarity'
            ELSE 'consistent_with_stationarity' END AS verdict_5pct
FROM agg_
""",
    tags=("inference", "timeseries"),
)
def a505_kpss(spark, sf_dir):
    """KPSS level-stationarity test on daily revenue — the
    null-reversed partner of trend tests: KPSS takes STATIONARITY as
    the null (a437-family drift monitors ask "did it move"; KPSS asks
    "is treating it as stationary even defensible"), via the scaled
    partial-sum statistic η = Σ S_t²/(n²·lrv) with a Bartlett-window
    (l=4) long-run variance. The series is quantized to $100 units so
    worst-case Σ S_t² stays inside BIGINT; deviations are taken
    against the integer-rounded mean (a015 machinery), partial sums
    and all five lag products are exact BIGINT window folds, and η is
    ONE division of exact integers (the rational Bartlett weights
    (5−j)/5 are cleared into the integers: η = 5ΣS²/(n(5c₀+2Σ(5−j)c_j))).
    The 0.463 flag is the 5% asymptotic critical value. One corpus
    touch; all windows run on the ~2400-row daily summary."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 10000).alias("y"))
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    mu = ts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(
            "(2 * CAST(SUM(y) AS BIGINT) + COUNT(*))"
            " div (2 * COUNT(*))"
        ).alias("ym"),
    )
    dev = ts.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("y") - F.col("ym")).cast("bigint").alias("dv"), "n"
    )
    w = Window.orderBy("t")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ps = dev.select(
        "dv",
        "n",
        F.sum("dv").over(wc).cast("bigint").alias("s"),
        *[F.lead("dv", k).over(w).alias(f"d{k}") for k in range(1, 5)],
    )
    agg_ = ps.agg(
        F.max("n").alias("n"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("ss2"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("c0"),
        *[
            F.coalesce(F.sum(F.col("dv") * F.col(f"d{k}")), F.lit(0))
            .cast("bigint")
            .alias(f"c{k}")
            for k in range(1, 5)
        ],
    )
    eta = (5 * F.col("ss2")).cast("double") / (
        F.col("n").cast("double")
        * (
            5 * F.col("c0")
            + 2
            * (
                4 * F.col("c1")
                + 3 * F.col("c2")
                + 2 * F.col("c3")
                + F.col("c4")
            )
        ).cast("double")
    )
    return agg_.select(
        F.col("n").alias("n_days"),
        F.round(eta, 6).alias("kpss_eta_r"),
        F.when(eta > 0.463, "reject_level_stationarity")
        .otherwise("consistent_with_stationarity")
        .alias("verdict_5pct"),
    )


@query(
    "a506_adf",
    oracle="""
WITH daily0 AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y FROM daily0 CROSS JOIN unit
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), dd AS (
  SELECT lag(y) OVER (ORDER BY t) AS x,
         y - lag(y) OVER (ORDER BY t) AS dy
  FROM ts_
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sd,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * dy) AS BIGINT) AS sxd,
         CAST(SUM(dy * dy) AS BIGINT) AS sdd
  FROM dd WHERE x IS NOT NULL
), c AS (
  SELECT n,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
         CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * sd / n AS cxd,
         CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n AS cdd
  FROM m
)
SELECT n AS n_obs,
       round(cxd / cxx, 6) AS rho_r,
       round((cxd / cxx)
             / sqrt((cdd - (cxd / cxx) * cxd)
                    / (CAST(n AS DOUBLE) - 2.0) / cxx), 6)
         AS adf_t_r,
       CASE WHEN (cxd / cxx)
                 / sqrt((cdd - (cxd / cxx) * cxd)
                        / (CAST(n AS DOUBLE) - 2.0) / cxx) < -2.86
            THEN 'reject_unit_root'
            ELSE 'consistent_with_unit_root' END AS verdict_5pct
FROM c
""",
    tags=("inference", "timeseries"),
)
def a506_adf(spark, sf_dir):
    """Dickey–Fuller unit-root test (constant, no augmentation
    lags) on daily revenue — the null-complement of a037's KPSS: DF
    takes the unit root as the null, so running both classifies the
    series into stationary / unit-root / inconclusive, the standard
    pre-modelling gate. Δy_t is regressed on y_{t−1} with exact
    BIGINT moments off the dollar-quantized daily summary; ρ̂, its
    standard error, and the DF t-ratio are once-per-query doubles
    with the IDENTICAL centered-moment expression text in both
    engines; −2.86 is the 5% Dickey–Fuller critical value (τ_μ). One
    corpus touch; ~2400-row summary windows."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    w = Window.orderBy("t")
    dd = ts.select(
        F.lag("y").over(w).alias("x"),
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
    ).filter(F.col("x").isNotNull())
    m = dd.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sd"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("dy")).cast("bigint").alias("sxd"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("sdd"),
    )
    c = m.selectExpr(
        "n",
        "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx",
        "CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * sd / n AS cxd",
        "CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n AS cdd",
    )
    rho = F.col("cxd") / F.col("cxx")
    tstat = rho / F.sqrt(
        (F.col("cdd") - rho * F.col("cxd"))
        / (F.col("n").cast("double") - 2.0)
        / F.col("cxx")
    )
    return c.select(
        F.col("n").alias("n_obs"),
        F.round(rho, 6).alias("rho_r"),
        F.round(tstat, 6).alias("adf_t_r"),
        F.when(tstat < -2.86, "reject_unit_root")
        .otherwise("consistent_with_unit_root")
        .alias("verdict_5pct"),
    )


# Centered 2-predictor OLS solved in closed form — ONE shared
# expression-text table (the _DL_LEVELS recipe) consumed by the
# Granger / Breusch-Godfrey / White queries below. Inputs: a 1-row
# frame with DOUBLE columns n, sy, s1, s2, s11, s22, s12, sy1, sy2,
# syy (raw moments of response y and predictors x1, x2).
_OLS2_LEVELS = (
    ("c11", "s11 - s1 * s1 / n"),
    ("c22", "s22 - s2 * s2 / n"),
    ("c12", "s12 - s1 * s2 / n"),
    ("cy1", "sy1 - s1 * sy / n"),
    ("cy2", "sy2 - s2 * sy / n"),
    ("cyy", "syy - sy * sy / n"),
    ("det", "c11 * c22 - c12 * c12"),
    ("b1", "(cy1 * c22 - cy2 * c12) / det"),
    ("b2", "(cy2 * c11 - cy1 * c12) / det"),
    ("sse", "cyy - b1 * cy1 - b2 * cy2"),
    ("r2", "1.0 - sse / cyy"),
)


def _sql_chain(levels, inner: str) -> str:
    sql = inner
    for name, expr in levels:
        sql = f"SELECT *, {expr} AS {name} FROM ({sql})"
    return sql


def _apply_levels(df, levels):
    out = df
    for name, expr in levels:
        out = out.selectExpr("*", f"{expr} AS {name}")
    return out


_GRANGER_MOMENTS_SQL = """
WITH daily0 AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y, x FROM daily0 CROSS JOIN unit
), ts_ AS (
  SELECT y, x, row_number() OVER (ORDER BY d) AS t FROM daily
), lagged AS (
  SELECT y,
         lag(y) OVER (ORDER BY t) AS y1,
         lag(x) OVER (ORDER BY t) AS x1
  FROM ts_
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(SUM(y1) AS BIGINT) AS DOUBLE) AS s1,
         CAST(CAST(SUM(x1) AS BIGINT) AS DOUBLE) AS s2,
         CAST(CAST(SUM(y1 * y1) AS BIGINT) AS DOUBLE) AS s11,
         CAST(CAST(SUM(x1 * x1) AS BIGINT) AS DOUBLE) AS s22,
         CAST(CAST(SUM(y1 * x1) AS BIGINT) AS DOUBLE) AS s12,
         CAST(CAST(SUM(y * y1) AS BIGINT) AS DOUBLE) AS sy1,
         CAST(CAST(SUM(y * x1) AS BIGINT) AS DOUBLE) AS sy2,
         CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
  FROM lagged WHERE y1 IS NOT NULL
)"""


@query(
    "a507_granger_causality",
    oracle=f"""{_GRANGER_MOMENTS_SQL}
SELECT CAST(n AS BIGINT) AS n_obs,
       round(b2, 6) AS beta_orders_r,
       round(((cyy - cy1 * cy1 / c11) - sse)
             / (sse / (n - 3.0)), 6) AS f_granger_r
FROM ({_sql_chain(_OLS2_LEVELS, "SELECT * FROM m")}) q
""",
    tags=("inference", "timeseries"),
)
def a507_granger_causality(spark, sf_dir):
    """Granger causality (one lag): do yesterday's ORDER COUNTS carry
    predictive information about today's REVENUE beyond revenue's own
    lag? The unrestricted OLS y_t ~ (1, y_{{t-1}}, x_{{t-1}}) is solved in
    closed form through _OLS2_LEVELS — one shared expression-text
    table both engines evaluate on the IDENTICAL exact-integer
    moments — and the restricted model's SSE falls out of the same
    centered moments (SSE_r = cyy − cy1²/c11), so the F statistic
    costs nothing extra. The corpus folds once into the (revenue,
    count) daily pair series; every cross-moment is an exact BIGINT.
    At 100 TB: one groupBy touch, ~2400-row lag window, 1-row
    algebra."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(
        o,
        money_units("o_totalprice", 100).alias("y"),
        F.count("*").cast("bigint").alias("x"),
    )
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y", "x", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    w = Window.orderBy("t")
    lagged = ts.select(
        "y",
        F.lag("y").over(w).alias("y1"),
        F.lag("x").over(w).alias("x1"),
    ).filter(F.col("y1").isNotNull())
    m = lagged.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("y").cast("bigint").cast("double").alias("sy"),
        F.sum("y1").cast("bigint").cast("double").alias("s1"),
        F.sum("x1").cast("bigint").cast("double").alias("s2"),
        F.sum(F.col("y1") * F.col("y1"))
        .cast("bigint")
        .cast("double")
        .alias("s11"),
        F.sum(F.col("x1") * F.col("x1"))
        .cast("bigint")
        .cast("double")
        .alias("s22"),
        F.sum(F.col("y1") * F.col("x1"))
        .cast("bigint")
        .cast("double")
        .alias("s12"),
        F.sum(F.col("y") * F.col("y1"))
        .cast("bigint")
        .cast("double")
        .alias("sy1"),
        F.sum(F.col("y") * F.col("x1"))
        .cast("bigint")
        .cast("double")
        .alias("sy2"),
        F.sum(F.col("y") * F.col("y"))
        .cast("bigint")
        .cast("double")
        .alias("syy"),
    )
    q = _apply_levels(m, _OLS2_LEVELS)
    return q.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("b2", 6).alias("beta_orders_r"),
        F.round(
            (
                (
                    F.col("cyy")
                    - F.col("cy1") * F.col("cy1") / F.col("c11")
                )
                - F.col("sse")
            )
            / (F.col("sse") / (F.col("n") - 3.0)),
            6,
        ).alias("f_granger_r"),
    )


_RESID_SQL = """
WITH daily0 AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y FROM daily0 CROSS JOIN unit
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM ts_
), fit AS (
  SELECT (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * st2 - CAST(st AS DOUBLE) * st) AS b,
         n, st, sy
  FROM sums
), fit2 AS (
  SELECT b, (CAST(sy AS DOUBLE) - b * st) / n AS a FROM fit
), resid AS (
  SELECT t.t,
         CAST(ROUND(t.y - f.a - f.b * t.t, 0) AS BIGINT) AS ec
  FROM ts_ t CROSS JOIN fit2 f
)"""


@query(
    "a508_breusch_godfrey",
    oracle=f"""{_RESID_SQL}, lagged AS (
  SELECT t, ec,
         lag(ec) OVER (ORDER BY t) AS e1
  FROM resid
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(ec) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) AS s1,
         CAST(CAST(SUM(e1) AS BIGINT) AS DOUBLE) AS s2,
         CAST(CAST(SUM(t * t) AS BIGINT) AS DOUBLE) AS s11,
         CAST(CAST(SUM(e1 * e1) AS BIGINT) AS DOUBLE) AS s22,
         CAST(CAST(SUM(t * e1) AS BIGINT) AS DOUBLE) AS s12,
         CAST(CAST(SUM(ec * t) AS BIGINT) AS DOUBLE) AS sy1,
         CAST(CAST(SUM(ec * e1) AS BIGINT) AS DOUBLE) AS sy2,
         CAST(CAST(SUM(ec * ec) AS BIGINT) AS DOUBLE) AS syy
  FROM lagged WHERE e1 IS NOT NULL
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(b2, 6) AS rho_resid_r,
       round(n * r2, 6) AS lm_bg_r
FROM ({_sql_chain(_OLS2_LEVELS, "SELECT * FROM m")}) q
""",
    tags=("inference", "timeseries"),
)
def a508_breusch_godfrey(spark, sf_dir):
    """Breusch–Godfrey LM test for first-order serial correlation in
    the daily-revenue trend residuals — the regression-based
    generalization of a011's Durbin–Watson (BG stays valid with
    lagged regressors and extends to any lag order; DW does not).
    Residuals come from the SAME quantized-to-whole-units OLS as
    a011 (exact BIGINTs), the auxiliary regression e_t ~ (1, t,
    e_{{t-1}}) is the shared _OLS2_LEVELS closed form on exact integer
    moments, and LM = n·R² is one readout. One corpus touch;
    summary-sized windows."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    fit = trend_fit(ts)
    resid = ts.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(F.col("y") - F.col("a") - F.col("b") * F.col("t"), 0)
        .cast("bigint")
        .alias("ec"),
    )
    w = Window.orderBy("t")
    lagged = resid.select(
        "t", "ec", F.lag("ec").over(w).alias("e1")
    ).filter(F.col("e1").isNotNull())
    m = lagged.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("ec").cast("bigint").cast("double").alias("sy"),
        F.sum("t").cast("bigint").cast("double").alias("s1"),
        F.sum("e1").cast("bigint").cast("double").alias("s2"),
        F.sum(F.col("t") * F.col("t"))
        .cast("bigint")
        .cast("double")
        .alias("s11"),
        F.sum(F.col("e1") * F.col("e1"))
        .cast("bigint")
        .cast("double")
        .alias("s22"),
        F.sum(F.col("t") * F.col("e1"))
        .cast("bigint")
        .cast("double")
        .alias("s12"),
        F.sum(F.col("ec") * F.col("t"))
        .cast("bigint")
        .cast("double")
        .alias("sy1"),
        F.sum(F.col("ec") * F.col("e1"))
        .cast("bigint")
        .cast("double")
        .alias("sy2"),
        F.sum(F.col("ec") * F.col("ec"))
        .cast("bigint")
        .cast("double")
        .alias("syy"),
    )
    q = _apply_levels(m, _OLS2_LEVELS)
    return q.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("b2", 6).alias("rho_resid_r"),
        F.round(F.col("n") * F.col("r2"), 6).alias("lm_bg_r"),
    )


@query(
    "a509_white_test",
    oracle=f"""{_RESID_SQL}, sq AS (
  SELECT t, (ec // 1000) * (ec // 1000) AS u FROM resid
), m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(u) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) AS s1,
         CAST(CAST(SUM(t * t) AS BIGINT) AS DOUBLE) AS s2,
         CAST(CAST(SUM(t * t) AS BIGINT) AS DOUBLE) AS s11,
         CAST(CAST(SUM(t * t * t * t) AS BIGINT) AS DOUBLE) AS s22,
         CAST(CAST(SUM(t * t * t) AS BIGINT) AS DOUBLE) AS s12,
         CAST(CAST(SUM(u * t) AS BIGINT) AS DOUBLE) AS sy1,
         CAST(CAST(SUM(u * t * t) AS BIGINT) AS DOUBLE) AS sy2,
         CAST(CAST(SUM(u * u) AS BIGINT) AS DOUBLE) AS syy
  FROM sq
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(r2, 6) AS r2_aux_r,
       round(n * r2, 6) AS lm_white_r
FROM ({_sql_chain(_OLS2_LEVELS, "SELECT * FROM m")}) q
""",
    tags=("inference", "timeseries"),
)
def a509_white_test(spark, sf_dir):
    """White's heteroskedasticity test on the daily-revenue trend
    residuals — the specification-free partner of a012's
    Breusch–Pagan: the auxiliary regression of SQUARED residuals on
    (t, t²) needs no assumed variance model, so it catches any
    smooth variance drift over the calendar. Residuals are the a011
    exact integers QUANTIZED to $1000 units before squaring (the
    documented overflow budget: Σu·t² then stays inside BIGINT
    through ~sf10 at t ≤ 2400), all ten moments are exact BIGINTs,
    and the _OLS2_LEVELS shared text yields R² and LM = n·R²
    bit-identically in both engines. One corpus touch; 1-row
    algebra."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    fit = trend_fit(ts)
    resid = ts.crossJoin(F.broadcast(fit)).select(
        "t",
        F.round(F.col("y") - F.col("a") - F.col("b") * F.col("t"), 0)
        .cast("bigint")
        .alias("ec"),
    )
    sq = resid.select(
        F.col("t").cast("bigint").alias("t"),
        (F.expr("ec div 1000") * F.expr("ec div 1000")).alias("u"),
    )
    tt = F.col("t") * F.col("t")
    m = sq.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("u").cast("bigint").cast("double").alias("sy"),
        F.sum("t").cast("bigint").cast("double").alias("s1"),
        F.sum(tt).cast("bigint").cast("double").alias("s2"),
        F.sum(tt).cast("bigint").cast("double").alias("s11"),
        F.sum(tt * tt).cast("bigint").cast("double").alias("s22"),
        F.sum(F.col("t") * tt).cast("bigint").cast("double").alias("s12"),
        F.sum(F.col("u") * F.col("t"))
        .cast("bigint")
        .cast("double")
        .alias("sy1"),
        F.sum(F.col("u") * tt)
        .cast("bigint")
        .cast("double")
        .alias("sy2"),
        F.sum(F.col("u") * F.col("u"))
        .cast("bigint")
        .cast("double")
        .alias("syy"),
    )
    q = _apply_levels(m, _OLS2_LEVELS)
    return q.select(
        F.col("n").cast("bigint").alias("n_obs"),
        F.round("r2", 6).alias("r2_aux_r"),
        F.round(F.col("n") * F.col("r2"), 6).alias("lm_white_r"),
    )


def _phi(x: str) -> str:
    """Standard normal CDF Φ as SQL text valid in BOTH engines —
    Abramowitz–Stegun 26.2.17 (|ε| < 7.5e-8), reflected for x < 0.
    ONE shared string (the _lf recipe) so both engines run the same
    polynomial on the same doubles; downstream consumers quantize
    before any aggregation."""
    t = f"(1.0 / (1.0 + 0.2316419 * abs({x})))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} *"
        f" (1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    tail = (
        f"(exp(-0.5 * {x} * {x}) * CAST(0.3989422804014327 AS DOUBLE)"
        f" * {poly})"
    )
    return (
        f"(CASE WHEN {x} >= 0.0 THEN 1.0 - {tail} ELSE {tail} END)"
    )


@query(
    "a510_lilliefors",
    oracle=f"""
WITH daily0 AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y FROM daily0 CROSS JOIN unit
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily
), fit AS (
  SELECT n,
         CAST(sy AS DOUBLE) / n AS mu,
         sqrt((CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
              / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)) AS sd
  FROM m
), hist AS (
  SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY y
), cum AS (
  SELECT v, c,
         CAST(SUM(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ch,
         CAST(COALESCE(SUM(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cl
  FROM hist
), dterm AS (
  SELECT f.n,
         CAST(ROUND(GREATEST(
           abs(CAST(c.ch AS DOUBLE) / f.n
               - {_phi('((CAST(c.v AS DOUBLE) - f.mu) / f.sd)')}),
           abs({_phi('((CAST(c.v AS DOUBLE) - f.mu) / f.sd)')}
               - CAST(c.cl AS DOUBLE) / f.n))
           * 1000000000.0, 0) AS BIGINT) AS d_fp
  FROM cum c CROSS JOIN fit f
)
SELECT MAX(n) AS n_days,
       round(CAST(MAX(d_fp) AS DOUBLE) / 1000000000.0, 6) AS d_stat_r,
       CASE WHEN CAST(MAX(d_fp) AS DOUBLE) / 1000000000.0
                 > 0.886 / sqrt(CAST(MAX(n) AS DOUBLE))
            THEN 'reject_normality'
            ELSE 'consistent_with_normal' END AS verdict_5pct
FROM dterm
""",
    tags=("inference", "stats"),
)
def a510_lilliefors(spark, sf_dir):
    """Lilliefors normality test on daily revenue — the KS distance
    against a normal with ESTIMATED (μ̂, σ̂), which is the test q157's
    two-sample KS and a109's Jarque–Bera moments do not give (JB sees
    only skew/kurtosis; Lilliefors sees the whole CDF, and naive KS
    critical values are wrong once parameters are fitted — hence the
    0.886/√n Lilliefors 5% line). Φ is the shared A&S-26.2.17
    expression text evaluated once per DISTINCT daily value (≤2400),
    each D-contribution is nano-quantized to BIGINT before the MAX
    (integer max, no float aggregation), and μ̂/σ̂ come from exact
    BIGINT moments. One corpus touch; summary-sized windows."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    m = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    fit = m.select(
        "n",
        (F.col("sy").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("n").cast("double") * F.col("syy")
                - F.col("sy").cast("double") * F.col("sy")
            )
            / F.col("n").cast("double")
            / (F.col("n").cast("double") - 1.0)
        ).alias("sd"),
    )
    hist = daily.groupBy(F.col("y").alias("v")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "v",
        F.sum("c").over(wc).cast("bigint").alias("ch"),
        F.coalesce(F.sum("c").over(wb), F.lit(0))
        .cast("bigint")
        .alias("cl"),
    )
    z = "((CAST(v AS DOUBLE) - mu) / sd)"
    dterm = cum.crossJoin(F.broadcast(fit)).selectExpr(
        "n",
        f"""CAST(ROUND(GREATEST(
          abs(CAST(ch AS DOUBLE) / n - {_phi(z)}),
          abs({_phi(z)} - CAST(cl AS DOUBLE) / n))
          * 1000000000.0, 0) AS BIGINT) AS d_fp""",
    )
    dmax = F.max("d_fp").cast("double") / 1000000000.0
    return dterm.agg(
        F.max("n").alias("n_days"),
        F.round(dmax, 6).alias("d_stat_r"),
        F.when(
            dmax > 0.886 / F.sqrt(F.max("n").cast("double")),
            "reject_normality",
        )
        .otherwise("consistent_with_normal")
        .alias("verdict_5pct"),
    )


@query(
    "a511_brunner_munzel",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), hist AS (
  SELECT v,
         CAST(COALESCE(SUM(CASE WHEN g = 1 THEN 1 END), 0) AS BIGINT)
           AS c1,
         CAST(COALESCE(SUM(CASE WHEN g = 2 THEN 1 END), 0) AS BIGINT)
           AS c2
  FROM obs GROUP BY v
), cum AS (
  SELECT v, c1, c2,
         CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cb,
         CAST(COALESCE(SUM(c1) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cb1,
         CAST(COALESCE(SUM(c2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cb2
  FROM hist
), pl AS (
  -- doubled pooled midrank R2, doubled internal midrank I2, and the
  -- doubled placement x2 = R2 - I2 for each (value, group)
  SELECT c1 AS c, 2 * cb + (c1 + c2) + 1 AS r2,
         2 * cb1 + c1 + 1 AS i2, 1 AS g
  FROM cum WHERE c1 > 0
  UNION ALL
  SELECT c2 AS c, 2 * cb + (c1 + c2) + 1 AS r2,
         2 * cb2 + c2 + 1 AS i2, 2 AS g
  FROM cum WHERE c2 > 0
), s AS (
  SELECT g,
         CAST(SUM(c) AS BIGINT) AS n_i,
         CAST(SUM(c * (r2 - i2)) AS BIGINT) AS sx,
         CAST(SUM(c * (r2 - i2) * (r2 - i2)) AS BIGINT) AS sxx
  FROM pl GROUP BY g
), d AS (
  SELECT g, n_i,
         CAST(sx AS DOUBLE) / 2.0 / n_i AS xbar,
         (CAST(sxx AS DOUBLE) / 4.0
          - (CAST(sx AS DOUBLE) / 2.0) * (CAST(sx AS DOUBLE) / 2.0)
            / n_i) / (CAST(n_i AS DOUBLE) - 1.0) AS s2
  FROM s
)
SELECT d1.n_i AS n_urgent, d2.n_i AS n_low,
       round(d2.xbar / d1.n_i, 6) AS p_hat_r,
       round((d2.xbar / d1.n_i - 0.5)
             / sqrt(d1.s2 / (CAST(d1.n_i AS DOUBLE)
                             * d2.n_i * d2.n_i)
                    + d2.s2 / (CAST(d2.n_i AS DOUBLE)
                               * d1.n_i * d1.n_i)), 6) AS w_bm_r
FROM d d1 CROSS JOIN d d2
WHERE d1.g = 1 AND d2.g = 2
""",
    tags=("inference", "stats"),
)
def a511_brunner_munzel(spark, sf_dir):
    """Brunner–Munzel test (URGENT vs LOW order values) — the
    nonparametric Behrens–Fisher solution: unlike q233's
    Mann–Whitney it does NOT assume equal variances/shapes under the
    null, estimating instead the placement probability
    p̂ = P(X₂ > X₁) + ½P(=) with a per-group placement variance. All
    rank machinery is DOUBLED-integer midranks off ONE pooled value
    histogram (placements x = pooled − internal midrank are exact
    integers per distinct value; no per-row ranking), the two
    placement variances come from exact Σx/Σx² folds, and the W
    statistic is one closed-form readout. One corpus fold, bounded
    histogram, 1-row output."""
    o = table(spark, sf_dir, "orders")
    obs = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("v").agg(
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("c1"),
        F.coalesce(F.sum(F.when(F.col("g") == 2, 1)), F.lit(0))
        .cast("bigint")
        .alias("c2"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "c1",
        "c2",
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wb), F.lit(0))
        .cast("bigint")
        .alias("cb"),
        F.coalesce(F.sum("c1").over(wb), F.lit(0))
        .cast("bigint")
        .alias("cb1"),
        F.coalesce(F.sum("c2").over(wb), F.lit(0))
        .cast("bigint")
        .alias("cb2"),
    )
    r2 = 2 * F.col("cb") + (F.col("c1") + F.col("c2")) + 1
    pl = (
        cum.filter(F.col("c1") > 0)
        .select(
            F.col("c1").alias("c"),
            r2.alias("r2"),
            (2 * F.col("cb1") + F.col("c1") + 1).alias("i2"),
            F.lit(1).alias("g"),
        )
        .unionAll(
            cum.filter(F.col("c2") > 0).select(
                F.col("c2").alias("c"),
                r2.alias("r2"),
                (2 * F.col("cb2") + F.col("c2") + 1).alias("i2"),
                F.lit(2).alias("g"),
            )
        )
    )
    x = F.col("r2") - F.col("i2")
    s = pl.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n_i"),
        F.sum(F.col("c") * x).cast("bigint").alias("sx"),
        F.sum(F.col("c") * x * x).cast("bigint").alias("sxx"),
    )
    d = s.select(
        "g",
        "n_i",
        (F.col("sx").cast("double") / 2.0 / F.col("n_i")).alias("xbar"),
        (
            (
                F.col("sxx").cast("double") / 4.0
                - (F.col("sx").cast("double") / 2.0)
                * (F.col("sx").cast("double") / 2.0)
                / F.col("n_i")
            )
            / (F.col("n_i").cast("double") - 1.0)
        ).alias("s2"),
    )
    d1 = d.filter(F.col("g") == 1).select(
        F.col("n_i").alias("n_urgent"),
        F.col("xbar").alias("xb1"),
        F.col("s2").alias("v1"),
    )
    d2 = d.filter(F.col("g") == 2).select(
        F.col("n_i").alias("n_low"),
        F.col("xbar").alias("xb2"),
        F.col("s2").alias("v2"),
    )
    p_hat = F.col("xb2") / F.col("n_urgent")
    se = F.sqrt(
        F.col("v1")
        / (
            F.col("n_urgent").cast("double")
            * F.col("n_low")
            * F.col("n_low")
        )
        + F.col("v2")
        / (
            F.col("n_low").cast("double")
            * F.col("n_urgent")
            * F.col("n_urgent")
        )
    )
    return d1.crossJoin(F.broadcast(d2)).select(
        "n_urgent",
        "n_low",
        F.round(p_hat, 6).alias("p_hat_r"),
        F.round((p_hat - 0.5) / se, 6).alias("w_bm_r"),
    )


@query(
    "a512_conover_squared_ranks",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), gm AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_i,
         (2 * CAST(SUM(v) AS BIGINT) + COUNT(*))
           // (2 * COUNT(*)) AS vm
  FROM obs GROUP BY g
), dev AS (
  SELECT o.g, abs(o.v - m.vm) AS a
  FROM obs o JOIN gm m ON m.g = o.g
), hist AS (
  SELECT a,
         CAST(COALESCE(SUM(CASE WHEN g = 1 THEN 1 END), 0) AS BIGINT)
           AS c1,
         CAST(COALESCE(SUM(CASE WHEN g = 2 THEN 1 END), 0) AS BIGINT)
           AS c2
  FROM dev GROUP BY a
), cum AS (
  SELECT c1, c2,
         2 * CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY a
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + (c1 + c2) + 1 AS r2,
         CAST(SUM(c1 + c2) OVER () AS BIGINT) AS nn
  FROM hist
), terms AS (
  SELECT c1, c2, nn,
         CAST(ROUND((CAST(r2 AS DOUBLE) / (2.0 * nn))
                    * (CAST(r2 AS DOUBLE) / (2.0 * nn))
                    * 1000000000000.0, 0) AS BIGINT) AS u2_fp,
         CAST(ROUND((CAST(r2 AS DOUBLE) / (2.0 * nn))
                    * (CAST(r2 AS DOUBLE) / (2.0 * nn))
                    * (CAST(r2 AS DOUBLE) / (2.0 * nn))
                    * (CAST(r2 AS DOUBLE) / (2.0 * nn))
                    * 1000000000000.0, 0) AS BIGINT) AS u4_fp
  FROM cum
), s AS (
  SELECT MAX(nn) AS nn,
         CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c1 * u2_fp) AS BIGINT) AS t1,
         CAST(SUM((c1 + c2) * u2_fp) AS BIGINT) AS s2,
         CAST(SUM((c1 + c2) * u4_fp) AS BIGINT) AS s4
  FROM terms
)
SELECT n1 AS n_urgent, n2 AS n_low,
       round(CAST(t1 AS DOUBLE) / 1000000000000.0, 6) AS t_norm_r,
       round((CAST(t1 AS DOUBLE) / 1000000000000.0
              - CAST(n1 AS DOUBLE)
                * (CAST(s2 AS DOUBLE) / 1000000000000.0) / nn)
             / sqrt(CAST(n1 AS DOUBLE) * n2
                    / (CAST(nn AS DOUBLE) * (nn - 1.0))
                    * (CAST(s4 AS DOUBLE) / 1000000000000.0
                       - (CAST(s2 AS DOUBLE) / 1000000000000.0)
                         * (CAST(s2 AS DOUBLE) / 1000000000000.0)
                         / nn)), 6) AS z_conover_r
FROM s
""",
    tags=("inference", "stats"),
)
def a512_conover_squared_ranks(spark, sf_dir):
    """Conover squared-ranks test for equal variances (URGENT vs LOW
    order values) — the RANK-based scale test that stays valid when
    a007's Bartlett (normality-dependent) and a351's Levene
    (mean-based) are not: squared midranks of |x − group center|
    have a known null mean/variance, so the statistic needs no
    distributional assumption. Group centers are integer-rounded
    means (exact), |deviations| fold to ONE pooled histogram,
    doubled midranks come from a cumulative window, and because
    Σrank⁴ overflows BIGINT at scale the ranks are NORMALIZED to
    u = R/N and pico-quantized per DISTINCT value before the exact
    integer weighted sums (documented: the statistic is defined on
    the quantized u², u⁴ — identical in both engines). One corpus
    fold, bounded histogram, 1-row readout."""
    o = table(spark, sf_dir, "orders")
    obs = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("v"),
    )
    gm = obs.groupBy("g").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.expr(
            "(2 * CAST(SUM(v) AS BIGINT) + COUNT(*))"
            " div (2 * COUNT(*))"
        ).alias("vm"),
    )
    dev = obs.join(F.broadcast(gm), "g").select(
        "g", F.abs(F.col("v") - F.col("vm")).alias("a")
    )
    hist = dev.groupBy("a").agg(
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("c1"),
        F.coalesce(F.sum(F.when(F.col("g") == 2, 1)), F.lit(0))
        .cast("bigint")
        .alias("c2"),
    )
    wb = Window.orderBy("a").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "c1",
        "c2",
        (
            2
            * F.coalesce(
                F.sum(F.col("c1") + F.col("c2")).over(wb), F.lit(0)
            ).cast("bigint")
            + (F.col("c1") + F.col("c2"))
            + 1
        ).alias("r2"),
        F.sum(F.col("c1") + F.col("c2"))
        .over(wall)
        .cast("bigint")
        .alias("nn"),
    )
    u = F.col("r2").cast("double") / (2.0 * F.col("nn"))
    terms = cum.select(
        "c1",
        "c2",
        "nn",
        money(u * u, 12).alias("u2_fp"),
        money(u * u * u * u, 12).alias("u4_fp"),
    )
    s = terms.agg(
        F.max("nn").alias("nn"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("u2_fp")).cast("bigint").alias("t1"),
        F.sum((F.col("c1") + F.col("c2")) * F.col("u2_fp"))
        .cast("bigint")
        .alias("s2"),
        F.sum((F.col("c1") + F.col("c2")) * F.col("u4_fp"))
        .cast("bigint")
        .alias("s4"),
    )
    t1d = F.col("t1").cast("double") / 1000000000000.0
    s2d = F.col("s2").cast("double") / 1000000000000.0
    s4d = F.col("s4").cast("double") / 1000000000000.0
    nnd = F.col("nn").cast("double")
    return s.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        F.round(t1d, 6).alias("t_norm_r"),
        F.round(
            (t1d - F.col("n1").cast("double") * s2d / F.col("nn"))
            / F.sqrt(
                F.col("n1").cast("double")
                * F.col("n2")
                / (nnd * (nnd - 1.0))
                * (s4d - s2d * s2d / F.col("nn"))
            ),
            6,
        ).alias("z_conover_r"),
    )


_MODAL_SQL = """
WITH rng AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
), mid AS (
  SELECT lo + (hi - lo) // 2 AS m FROM rng
), halves AS (
  SELECT e.user_id,
         CASE WHEN epoch_us(e.ts) < d.m THEN 1 ELSE 2 END AS h,
         e.event_type, COUNT(*) AS c
  FROM events e CROSS JOIN mid d
  GROUP BY 1, 2, 3
), modal AS (
  SELECT user_id, h, event_type
  FROM (SELECT user_id, h, event_type,
               row_number() OVER (PARTITION BY user_id, h
                 ORDER BY c DESC, event_type) AS rn
        FROM halves)
  WHERE rn = 1
), paired AS (
  SELECT a.user_id, a.event_type AS t1, b.event_type AS t2
  FROM modal a JOIN modal b
    ON b.user_id = a.user_id AND a.h = 1 AND b.h = 2
)"""


@query(
    "a513_bowker_symmetry",
    oracle=f"""{_MODAL_SQL}, ct AS (
  SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n FROM paired
  GROUP BY t1, t2
), pairs AS (
  SELECT a.t1 AS i, a.t2 AS j,
         a.n AS nij, COALESCE(b.n, 0) AS nji
  FROM ct a LEFT JOIN ct b ON b.t1 = a.t2 AND b.t2 = a.t1
  WHERE a.t1 < a.t2
  UNION ALL
  SELECT b.t2 AS i, b.t1 AS j, 0 AS nij, b.n AS nji
  FROM ct b LEFT JOIN ct a ON a.t1 = b.t2 AND a.t2 = b.t1
  WHERE b.t1 > b.t2 AND a.t1 IS NULL
), terms AS (
  SELECT i, j, nij, nji,
         CASE WHEN nij + nji > 0
              THEN CAST(ROUND(CAST((nij - nji) * (nij - nji)
                              AS DOUBLE) / (nij + nji)
                              * 1000000000.0, 0) AS BIGINT)
              ELSE NULL END AS t_fp
  FROM pairs
)
SELECT CAST(COUNT(t_fp) AS BIGINT) AS df_used,
       CAST(SUM(nij + nji) AS BIGINT) AS n_off_diag,
       round(CAST(COALESCE(SUM(t_fp), 0) AS DOUBLE) / 1000000000.0, 6)
         AS chi2_bowker_r
FROM terms
""",
    tags=("inference", "stats"),
)
def a513_bowker_symmetry(spark, sf_dir):
    """Bowker's test of symmetry on the 5×5 paired transition table
    of each user's MODAL event type, first half vs second half of the
    corpus window — the k×k generalization of a412's McNemar: under
    symmetry the flows i→j and j→i should balance, so
    Σ(n_ij−n_ji)²/(n_ij+n_ji) over unordered pairs is χ² with one df
    per non-empty pair (zero-sum pairs are excluded and df_used
    reported, the standard convention). Modal types use a
    deterministic (count DESC, type) tie-break; every cell count is
    exact, and each pair's term is nano-quantized before the exact
    integer sum. One corpus fold + per-user argmax window; the
    contingency is ≤25 cells at any scale."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    mid = rng.select((F.col("lo") + F.expr("(hi - lo) div 2")).alias("m"))
    halves = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy(
            "user_id",
            F.when(F.unix_micros("ts") < F.col("m"), 1)
            .otherwise(2)
            .alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("c"))
    )
    modal = (
        halves.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "h").orderBy(
                    F.col("c").desc(), "event_type"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "h", "event_type")
    )
    paired = (
        modal.filter(F.col("h") == 1)
        .select("user_id", F.col("event_type").alias("t1"))
        .join(
            modal.filter(F.col("h") == 2).select(
                "user_id", F.col("event_type").alias("t2")
            ),
            "user_id",
        )
    )
    ct = paired.groupBy("t1", "t2").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = ct.select(
        F.col("t1").alias("i"), F.col("t2").alias("j"), F.col("n")
    )
    b = ct.select(
        F.col("t2").alias("i"), F.col("t1").alias("j"),
        F.col("n").alias("nb"),
    )
    pairs = (
        a.join(b, ["i", "j"], "full")
        .filter(F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            F.coalesce("n", F.lit(0).cast("bigint")).alias("nij"),
            F.coalesce("nb", F.lit(0).cast("bigint")).alias("nji"),
        )
    )
    t_fp = F.when(
        F.col("nij") + F.col("nji") > 0,
        money(
            ((F.col("nij") - F.col("nji")) * (F.col("nij") - F.col("nji")))
            .cast("double")
            / (F.col("nij") + F.col("nji")),
            9,
        ),
    )
    return pairs.select("nij", "nji", t_fp.alias("t_fp")).agg(
        F.count("t_fp").cast("bigint").alias("df_used"),
        F.sum(F.col("nij") + F.col("nji"))
        .cast("bigint")
        .alias("n_off_diag"),
        F.round(
            F.coalesce(F.sum("t_fp"), F.lit(0)).cast("double")
            / 1000000000.0,
            6,
        ).alias("chi2_bowker_r"),
    )


@query(
    "a514_stuart_maxwell",
    oracle=f"""{_MODAL_SQL}, coll AS (
  SELECT CASE WHEN t1 = 'purchase' THEN 'purchase'
              WHEN t1 = 'click' THEN 'click' ELSE 'other' END AS c1,
         CASE WHEN t2 = 'purchase' THEN 'purchase'
              WHEN t2 = 'click' THEN 'click' ELSE 'other' END AS c2
  FROM paired
), ct AS (
  SELECT c1, c2, CAST(COUNT(*) AS BIGINT) AS n FROM coll GROUP BY 1, 2
), cell AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN c1 = 'purchase' AND c2 = 'click'
                       THEN n END), 0)
         + COALESCE(SUM(CASE WHEN c1 = 'click' AND c2 = 'purchase'
                         THEN n END), 0) AS BIGINT) AS m12,
    CAST(COALESCE(SUM(CASE WHEN c1 = 'purchase' AND c2 = 'other'
                       THEN n END), 0)
         + COALESCE(SUM(CASE WHEN c1 = 'other' AND c2 = 'purchase'
                         THEN n END), 0) AS BIGINT) AS m13,
    CAST(COALESCE(SUM(CASE WHEN c1 = 'click' AND c2 = 'other'
                       THEN n END), 0)
         + COALESCE(SUM(CASE WHEN c1 = 'other' AND c2 = 'click'
                         THEN n END), 0) AS BIGINT) AS m23,
    CAST(COALESCE(SUM(CASE WHEN c1 = 'purchase' THEN n END), 0)
         - COALESCE(SUM(CASE WHEN c2 = 'purchase' THEN n END), 0)
         AS BIGINT) AS d1,
    CAST(COALESCE(SUM(CASE WHEN c1 = 'click' THEN n END), 0)
         - COALESCE(SUM(CASE WHEN c2 = 'click' THEN n END), 0)
         AS BIGINT) AS d2,
    CAST(COALESCE(SUM(CASE WHEN c1 = 'other' THEN n END), 0)
         - COALESCE(SUM(CASE WHEN c2 = 'other' THEN n END), 0)
         AS BIGINT) AS d3,
    CAST(SUM(n) AS BIGINT) AS nu
  FROM ct
)
SELECT nu AS n_users, d1 AS d_purchase, d2 AS d_click, d3 AS d_other,
       CASE WHEN m12 * m13 + m12 * m23 + m13 * m23 > 0 THEN
         round(CAST(m23 * d1 * d1 + m13 * d2 * d2 + m12 * d3 * d3
                    AS DOUBLE)
               / CAST(m12 * m13 + m12 * m23 + m13 * m23 AS DOUBLE), 6)
       END AS chi2_sm_r
FROM cell
""",
    tags=("inference", "stats"),
)
def a514_stuart_maxwell(spark, sf_dir):
    """Stuart–Maxwell marginal-homogeneity test on the 3-category
    (purchase / click / other) modal-behavior transition — the
    complement of a045's Bowker: Bowker asks whether individual
    flows are symmetric, Stuart–Maxwell asks whether the MARGINS
    moved (did the population's modal mix shift between halves, even
    if individual cells trade asymmetrically). For k=3 the statistic
    has the classic closed form χ² = (n̄₂₃d₁² + n̄₁₃d₂² + n̄₁₂d₃²) /
    (2Σn̄n̄) — evaluated here with DOUBLED pair sums m_ij = n_ij+n_ji
    so every term is an exact BIGINT (the 2s cancel), one division,
    NULL when all off-diagonal traffic is empty. Shares the modal
    derivation with a045 (same fold, same tie-break); ≤9 cells at
    any scale."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    mid = rng.select((F.col("lo") + F.expr("(hi - lo) div 2")).alias("m"))
    halves = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy(
            "user_id",
            F.when(F.unix_micros("ts") < F.col("m"), 1)
            .otherwise(2)
            .alias("h"),
            "event_type",
        )
        .agg(F.count("*").alias("c"))
    )
    modal = (
        halves.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "h").orderBy(
                    F.col("c").desc(), "event_type"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "h", "event_type")
    )
    coll = F.when(
        F.col("event_type") == "purchase", "purchase"
    ).when(F.col("event_type") == "click", "click").otherwise("other")
    paired = (
        modal.filter(F.col("h") == 1)
        .select("user_id", coll.alias("c1"))
        .join(
            modal.filter(F.col("h") == 2).select(
                "user_id", coll.alias("c2")
            ),
            "user_id",
        )
    )
    ct = paired.groupBy("c1", "c2").agg(
        F.count("*").cast("bigint").alias("n")
    )

    def m(a, b):
        return (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("c1") == a) & (F.col("c2") == b),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
            + F.coalesce(
                F.sum(
                    F.when(
                        (F.col("c1") == b) & (F.col("c2") == a),
                        F.col("n"),
                    )
                ),
                F.lit(0),
            )
        ).cast("bigint")

    def d(a):
        return (
            F.coalesce(F.sum(F.when(F.col("c1") == a, F.col("n"))), F.lit(0))
            - F.coalesce(
                F.sum(F.when(F.col("c2") == a, F.col("n"))), F.lit(0)
            )
        ).cast("bigint")

    cell = ct.agg(
        m("purchase", "click").alias("m12"),
        m("purchase", "other").alias("m13"),
        m("click", "other").alias("m23"),
        d("purchase").alias("d1"),
        d("click").alias("d2"),
        d("other").alias("d3"),
        F.sum("n").cast("bigint").alias("nu"),
    )
    den = (
        F.col("m12") * F.col("m13")
        + F.col("m12") * F.col("m23")
        + F.col("m13") * F.col("m23")
    )
    num = (
        F.col("m23") * F.col("d1") * F.col("d1")
        + F.col("m13") * F.col("d2") * F.col("d2")
        + F.col("m12") * F.col("d3") * F.col("d3")
    )
    return cell.select(
        F.col("nu").alias("n_users"),
        F.col("d1").alias("d_purchase"),
        F.col("d2").alias("d_click"),
        F.col("d3").alias("d_other"),
        F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).alias("chi2_sm_r"),
    )


@query(
    "a515_anderson_darling_ksample",
    oracle="""
WITH obs AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS v
  FROM orders
), hist AS (
  SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM obs GROUP BY v, g
), pool AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS l FROM hist GROUP BY v
), pcum AS (
  SELECT v, l,
         2 * CAST(SUM(l) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - l AS b2,
         CAST(SUM(l) OVER () AS BIGINT) AS nn
  FROM pool
), gsz AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n_i FROM hist GROUP BY g
), grid AS (
  SELECT p.v, p.l, p.b2, p.nn, z.g, z.n_i,
         COALESCE(h.c, 0) AS c
  FROM pcum p CROSS JOIN gsz z
  LEFT JOIN hist h ON h.v = p.v AND h.g = z.g
), mcum AS (
  SELECT v, l, b2, nn, g, n_i,
         2 * CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - c AS m2
  FROM grid
), terms AS (
  SELECT g, n_i, nn,
         CASE WHEN b2 * (2 * nn - b2) - nn * l > 0 THEN
           CAST(ROUND(
             (CAST(l AS DOUBLE) / nn)
             * (CAST(nn AS DOUBLE) * m2 - CAST(n_i AS DOUBLE) * b2)
             * (CAST(nn AS DOUBLE) * m2 - CAST(n_i AS DOUBLE) * b2)
             / (CAST(b2 AS DOUBLE) * (2.0 * nn - b2)
                - CAST(nn AS DOUBLE) * l)
             * 1000000.0, 0) AS BIGINT)
         END AS t_fp
  FROM mcum
), gterm AS (
  SELECT g, MAX(nn) AS nn,
         CAST(ROUND(CAST(SUM(t_fp) AS DOUBLE) / MAX(n_i), 0)
              AS BIGINT) AS s_fp
  FROM terms GROUP BY g
)
SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
       MAX(nn) AS n_total,
       round((CAST(MAX(nn) AS DOUBLE) - 1.0) / MAX(nn)
             * CAST(SUM(s_fp) AS DOUBLE) / 1000000.0, 6) AS a2_akn_r
FROM gterm
""",
    tags=("inference", "stats"),
)
def a515_anderson_darling_ksample(spark, sf_dir):
    """k-sample Anderson–Darling test (Scholz–Stephens A²ₐₖₙ, midrank
    version) across the 5 order priorities — the tail-sensitive
    k-sample distribution-equality test that q157's two-sample KS and
    a106's Kruskal–Wallis (location-only) cannot replace: AD weights
    discrepancies by 1/(F(1−F)), so tail divergence between priority
    classes registers where KS's sup-norm misses it. The pooled and
    per-group CDFs live on a value-DOMAIN-bounded grid (distinct
    rounded dollar values × 5 groups — independent of row count) as
    DOUBLED midrank masses (exact integers off two cumulative
    windows); each grid term runs its doubles once and is
    micro-quantized before the exact per-group sums (degenerate
    single-value pools yield NULL terms, excluded, the standard
    convention). One corpus fold; everything after is domain-sized."""
    o = table(spark, sf_dir, "orders")
    obs = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("v", "g").agg(
        F.count("*").cast("bigint").alias("c")
    )
    pool = hist.groupBy("v").agg(F.sum("c").cast("bigint").alias("l"))
    wv = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pcum = pool.select(
        "v",
        "l",
        (2 * F.sum("l").over(wv).cast("bigint") - F.col("l")).alias("b2"),
        F.sum("l").over(wall).cast("bigint").alias("nn"),
    )
    gsz = hist.groupBy("g").agg(F.sum("c").cast("bigint").alias("n_i"))
    grid = (
        pcum.crossJoin(F.broadcast(gsz))
        .join(hist, ["v", "g"], "left")
        .select(
            "v",
            "l",
            "b2",
            "nn",
            "g",
            "n_i",
            F.coalesce("c", F.lit(0).cast("bigint")).alias("c"),
        )
    )
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mcum = grid.select(
        "l",
        "b2",
        "nn",
        "g",
        "n_i",
        (2 * F.sum("c").over(wg).cast("bigint") - F.col("c")).alias("m2"),
    )
    dev = F.col("nn").cast("double") * F.col("m2") - F.col(
        "n_i"
    ).cast("double") * F.col("b2")
    den = F.col("b2").cast("double") * (
        2.0 * F.col("nn") - F.col("b2")
    ) - F.col("nn").cast("double") * F.col("l")
    t_fp = F.when(
        F.col("b2") * (2 * F.col("nn") - F.col("b2"))
        - F.col("nn") * F.col("l")
        > 0,
        money((F.col("l").cast("double") / F.col("nn")) * dev * dev / den, 6),
    )
    terms = mcum.select("g", "n_i", "nn", t_fp.alias("t_fp"))
    gterm = terms.groupBy("g").agg(
        F.max("nn").alias("nn"),
        F.round(F.sum("t_fp").cast("double") / F.max("n_i"), 0)
        .cast("bigint")
        .alias("s_fp"),
    )
    return gterm.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.max("nn").alias("n_total"),
        F.round(
            (F.max("nn").cast("double") - 1.0)
            / F.max("nn")
            * F.sum("s_fp").cast("double")
            / 1000000.0,
            6,
        ).alias("a2_akn_r"),
    )


@query(
    "a516_theil_u2",
    oracle="""
WITH daily0 AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              // 100 AS BIGINT) AS y
  FROM orders GROUP BY d
), unit AS (
  SELECT GREATEST(1, (CAST(SUM(y) AS BIGINT) // COUNT(*)) // 3000) AS u
  FROM daily0
), daily AS (
  SELECT d, CAST(y // u AS BIGINT) AS y FROM daily0 CROSS JOIN unit
), ts_ AS (
  SELECT y, row_number() OVER (ORDER BY d) AS t FROM daily
), fc AS (
  SELECT y,
         lag(y, 7) OVER (ORDER BY t) AS snaive,
         lag(y, 1) OVER (ORDER BY t) AS naive
  FROM ts_
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((y - snaive) * (y - snaive)) AS BIGINT) AS sse_s,
         CAST(SUM((y - naive) * (y - naive)) AS BIGINT) AS sse_n,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(snaive * snaive) AS BIGINT) AS sff
  FROM fc WHERE snaive IS NOT NULL
)
SELECT n AS n_obs,
       round(sqrt(CAST(sse_s AS DOUBLE)) / sqrt(CAST(sse_n AS DOUBLE)),
             6) AS theil_u2_r,
       round(sqrt(CAST(sse_s AS DOUBLE) / n)
             / (sqrt(CAST(sff AS DOUBLE) / n)
                + sqrt(CAST(syy AS DOUBLE) / n)), 6) AS theil_u1_r,
       CASE WHEN sse_s < sse_n THEN 'seasonal_beats_naive'
            ELSE 'naive_wins' END AS verdict
FROM m
""",
    tags=("inference", "timeseries"),
)
def a516_theil_u2(spark, sf_dir):
    """Theil's U2 (and U1) forecast-quality coefficients for the
    weekly-seasonal-naive predictor of daily revenue against the
    random-walk naive — the scale-free "is the model better than
    doing nothing" ratio that complements a114's MASE (MASE scales by
    in-sample MAE; U2 is the out-of-the-box RMSE ratio Theil defined,
    U2 < 1 ⟺ the model beats the naive walk). Both error sums are
    exact BIGINT squared-dollar folds over the aligned lag-7/lag-1
    daily series (the first 7 days are excluded from BOTH sums, the
    standard alignment); the two square roots and the ratio run once.
    One corpus touch; ~2400-row summary window."""
    o = table(spark, sf_dir, "orders")
    daily = daily_orders(o, money_units("o_totalprice", 100).alias("y"))
    daily = unit_scaled(daily, "y", 3000)
    ts = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("t")
    )
    w = Window.orderBy("t")
    fc = ts.select(
        "y",
        F.lag("y", 7).over(w).alias("snaive"),
        F.lag("y", 1).over(w).alias("naive"),
    ).filter(F.col("snaive").isNotNull())
    m = fc.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            (F.col("y") - F.col("snaive")) * (F.col("y") - F.col("snaive"))
        )
        .cast("bigint")
        .alias("sse_s"),
        F.sum(
            (F.col("y") - F.col("naive")) * (F.col("y") - F.col("naive"))
        )
        .cast("bigint")
        .alias("sse_n"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("snaive") * F.col("snaive"))
        .cast("bigint")
        .alias("sff"),
    )
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(
            F.sqrt(F.col("sse_s").cast("double"))
            / F.sqrt(F.col("sse_n").cast("double")),
            6,
        ).alias("theil_u2_r"),
        F.round(
            F.sqrt(F.col("sse_s").cast("double") / F.col("n"))
            / (
                F.sqrt(F.col("sff").cast("double") / F.col("n"))
                + F.sqrt(F.col("syy").cast("double") / F.col("n"))
            ),
            6,
        ).alias("theil_u1_r"),
        F.when(
            F.col("sse_s") < F.col("sse_n"), "seasonal_beats_naive"
        )
        .otherwise("naive_wins")
        .alias("verdict"),
    )


@query(
    "a517_kendalls_w",
    oracle="""
WITH per AS (
  SELECT user_id,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END),
                       0) AS BIGINT) AS x1,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END),
                       0) AS BIGINT) AS x2,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 END), 0) AS BIGINT) AS x3,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'
                           THEN 1 END), 0) AS BIGINT) AS x4,
         CAST(COALESCE(SUM(CASE WHEN event_type = 'error'
                           THEN 1 END), 0) AS BIGINT) AS x5
  FROM events GROUP BY user_id
), rk AS (
  SELECT user_id,
         2 + 2 * ((CASE WHEN x2 < x1 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 < x1 THEN 1 ELSE 0 END)
                  + (CASE WHEN x4 < x1 THEN 1 ELSE 0 END)
                  + (CASE WHEN x5 < x1 THEN 1 ELSE 0 END))
           + ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
              + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END)
              + (CASE WHEN x4 = x1 THEN 1 ELSE 0 END)
              + (CASE WHEN x5 = x1 THEN 1 ELSE 0 END)) AS r1,
         2 + 2 * ((CASE WHEN x1 < x2 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 < x2 THEN 1 ELSE 0 END)
                  + (CASE WHEN x4 < x2 THEN 1 ELSE 0 END)
                  + (CASE WHEN x5 < x2 THEN 1 ELSE 0 END))
           + ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
              + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END)
              + (CASE WHEN x4 = x2 THEN 1 ELSE 0 END)
              + (CASE WHEN x5 = x2 THEN 1 ELSE 0 END)) AS r2,
         2 + 2 * ((CASE WHEN x1 < x3 THEN 1 ELSE 0 END)
                  + (CASE WHEN x2 < x3 THEN 1 ELSE 0 END)
                  + (CASE WHEN x4 < x3 THEN 1 ELSE 0 END)
                  + (CASE WHEN x5 < x3 THEN 1 ELSE 0 END))
           + ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
              + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END)
              + (CASE WHEN x4 = x3 THEN 1 ELSE 0 END)
              + (CASE WHEN x5 = x3 THEN 1 ELSE 0 END)) AS r3,
         2 + 2 * ((CASE WHEN x1 < x4 THEN 1 ELSE 0 END)
                  + (CASE WHEN x2 < x4 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 < x4 THEN 1 ELSE 0 END)
                  + (CASE WHEN x5 < x4 THEN 1 ELSE 0 END))
           + ((CASE WHEN x1 = x4 THEN 1 ELSE 0 END)
              + (CASE WHEN x2 = x4 THEN 1 ELSE 0 END)
              + (CASE WHEN x3 = x4 THEN 1 ELSE 0 END)
              + (CASE WHEN x5 = x4 THEN 1 ELSE 0 END)) AS r4,
         2 + 2 * ((CASE WHEN x1 < x5 THEN 1 ELSE 0 END)
                  + (CASE WHEN x2 < x5 THEN 1 ELSE 0 END)
                  + (CASE WHEN x3 < x5 THEN 1 ELSE 0 END)
                  + (CASE WHEN x4 < x5 THEN 1 ELSE 0 END))
           + ((CASE WHEN x1 = x5 THEN 1 ELSE 0 END)
              + (CASE WHEN x2 = x5 THEN 1 ELSE 0 END)
              + (CASE WHEN x3 = x5 THEN 1 ELSE 0 END)
              + (CASE WHEN x4 = x5 THEN 1 ELSE 0 END)) AS r5,
         ((CASE WHEN x2 = x1 THEN 1 ELSE 0 END)
          + (CASE WHEN x3 = x1 THEN 1 ELSE 0 END)
          + (CASE WHEN x4 = x1 THEN 1 ELSE 0 END)
          + (CASE WHEN x5 = x1 THEN 1 ELSE 0 END) + 1) AS t1,
         ((CASE WHEN x1 = x2 THEN 1 ELSE 0 END)
          + (CASE WHEN x3 = x2 THEN 1 ELSE 0 END)
          + (CASE WHEN x4 = x2 THEN 1 ELSE 0 END)
          + (CASE WHEN x5 = x2 THEN 1 ELSE 0 END) + 1) AS t2,
         ((CASE WHEN x1 = x3 THEN 1 ELSE 0 END)
          + (CASE WHEN x2 = x3 THEN 1 ELSE 0 END)
          + (CASE WHEN x4 = x3 THEN 1 ELSE 0 END)
          + (CASE WHEN x5 = x3 THEN 1 ELSE 0 END) + 1) AS t3,
         ((CASE WHEN x1 = x4 THEN 1 ELSE 0 END)
          + (CASE WHEN x2 = x4 THEN 1 ELSE 0 END)
          + (CASE WHEN x3 = x4 THEN 1 ELSE 0 END)
          + (CASE WHEN x5 = x4 THEN 1 ELSE 0 END) + 1) AS t4,
         ((CASE WHEN x1 = x5 THEN 1 ELSE 0 END)
          + (CASE WHEN x2 = x5 THEN 1 ELSE 0 END)
          + (CASE WHEN x3 = x5 THEN 1 ELSE 0 END)
          + (CASE WHEN x4 = x5 THEN 1 ELSE 0 END) + 1) AS t5
  FROM per
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(r1) AS BIGINT) AS rr1,
         CAST(SUM(r2) AS BIGINT) AS rr2,
         CAST(SUM(r3) AS BIGINT) AS rr3,
         CAST(SUM(r4) AS BIGINT) AS rr4,
         CAST(SUM(r5) AS BIGINT) AS rr5,
         CAST(SUM((t1 * t1 - 1) + (t2 * t2 - 1) + (t3 * t3 - 1)
                  + (t4 * t4 - 1) + (t5 * t5 - 1)) AS BIGINT) AS tt
  FROM rk
)
SELECT m AS n_raters,
       round(
         3.0 * CAST((rr1 - 6 * m) * (rr1 - 6 * m)
                    + (rr2 - 6 * m) * (rr2 - 6 * m)
                    + (rr3 - 6 * m) * (rr3 - 6 * m)
                    + (rr4 - 6 * m) * (rr4 - 6 * m)
                    + (rr5 - 6 * m) * (rr5 - 6 * m) AS DOUBLE)
         / (120.0 * CAST(m AS DOUBLE) * m - CAST(m AS DOUBLE) * tt),
         6) AS w_r,
       round(
         CAST(m AS DOUBLE) * 4.0
         * (3.0 * CAST((rr1 - 6 * m) * (rr1 - 6 * m)
                       + (rr2 - 6 * m) * (rr2 - 6 * m)
                       + (rr3 - 6 * m) * (rr3 - 6 * m)
                       + (rr4 - 6 * m) * (rr4 - 6 * m)
                       + (rr5 - 6 * m) * (rr5 - 6 * m) AS DOUBLE)
            / (120.0 * CAST(m AS DOUBLE) * m
               - CAST(m AS DOUBLE) * tt)), 6) AS chi2_r
FROM s
""",
    tags=("inference", "stats"),
)
def a517_kendalls_w(spark, sf_dir):
    """Kendall's coefficient of concordance W, with the tie
    correction, across all users' rankings of the 5 event types by
    personal usage — the multi-rater agreement statistic that a118's
    pairwise tau and a-family ICC don't give: W ∈ [0,1] asks whether
    THOUSANDS of rankings share one consensus ordering. Within-user
    midranks of the 5 counts are DOUBLED integers from pairwise CASE
    comparisons (no sort); each user's tie correction Σ(t³−t) folds
    to Σ_j(t_j²−1) with t_j the size of item j's tie class — all
    exact BIGINTs in ONE user-level fold — and W = 12S/(m²(n³−n) −
    mΣT) is a single readout (χ² = m(n−1)W). One corpus scan, one
    user shuffle, 1-row output at any scale."""
    ev = table(spark, sf_dir, "events")
    types = ("view", "click", "purchase", "signup", "error")
    per = ev.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"x{i+1}")
            for i, t in enumerate(types)
        ]
    )

    def r2(j):
        others = [k for k in range(1, 6) if k != j]
        less = sum(
            (
                F.when(F.col(f"x{k}") < F.col(f"x{j}"), 1).otherwise(0)
                for k in others[1:]
            ),
            F.when(F.col(f"x{others[0]}") < F.col(f"x{j}"), 1).otherwise(0),
        )
        eq = sum(
            (
                F.when(F.col(f"x{k}") == F.col(f"x{j}"), 1).otherwise(0)
                for k in others[1:]
            ),
            F.when(F.col(f"x{others[0]}") == F.col(f"x{j}"), 1).otherwise(
                0
            ),
        )
        return (2 + 2 * less + eq).alias(f"r{j}"), (eq + 1).alias(f"t{j}")

    cols = []
    for j in range(1, 6):
        rj, tj = r2(j)
        cols.extend([rj, tj])
    rk = per.select(*cols)
    s = rk.agg(
        F.count("*").cast("bigint").alias("m"),
        *[F.sum(f"r{j}").cast("bigint").alias(f"rr{j}") for j in range(1, 6)],
        sum(
            (
                F.sum(F.col(f"t{j}") * F.col(f"t{j}") - 1)
                for j in range(2, 6)
            ),
            F.sum(F.col("t1") * F.col("t1") - 1),
        )
        .cast("bigint")
        .alias("tt"),
    )
    s4 = sum(
        (
            (F.col(f"rr{j}") - 6 * F.col("m"))
            * (F.col(f"rr{j}") - 6 * F.col("m"))
            for j in range(2, 6)
        ),
        (F.col("rr1") - 6 * F.col("m"))
        * (F.col("rr1") - 6 * F.col("m")),
    )
    md = F.col("m").cast("double")
    w = (
        3.0
        * s4.cast("double")
        / (120.0 * md * F.col("m") - md * F.col("tt"))
    )
    return s.select(
        F.col("m").alias("n_raters"),
        F.round(w, 6).alias("w_r"),
        F.round(md * 4.0 * w, 6).alias("chi2_r"),
    )


@query(
    "a518_goodman_kruskal_lambda",
    oracle="""
WITH ct AS (
  SELECT c_nationkey AS x, c_mktsegment AS y,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
), rowmax AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS sum_rowmax FROM (
    SELECT x, MAX(n) AS mx FROM ct GROUP BY x)
), colmax AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS sum_colmax FROM (
    SELECT y, MAX(n) AS mx FROM ct GROUP BY y)
), ymax AS (
  SELECT CAST(MAX(s) AS BIGINT) AS max_y FROM (
    SELECT y, SUM(n) AS s FROM ct GROUP BY y)
), xmax AS (
  SELECT CAST(MAX(s) AS BIGINT) AS max_x FROM (
    SELECT x, SUM(n) AS s FROM ct GROUP BY x)
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn FROM ct
)
SELECT nn AS n_customers,
       round(CAST(sum_rowmax - max_y AS DOUBLE) / (nn - max_y), 6)
         AS lambda_seg_given_nation_r,
       round(CAST(sum_colmax - max_x AS DOUBLE) / (nn - max_x), 6)
         AS lambda_nation_given_seg_r,
       round(CAST((sum_rowmax - max_y) + (sum_colmax - max_x)
                  AS DOUBLE)
             / CAST((nn - max_y) + (nn - max_x) AS DOUBLE), 6)
         AS lambda_symmetric_r
FROM rowmax CROSS JOIN colmax CROSS JOIN ymax CROSS JOIN xmax
CROSS JOIN tot
""",
    tags=("inference", "stats"),
)
def a518_goodman_kruskal_lambda(spark, sf_dir):
    """Goodman–Kruskal lambda (both directions + symmetric) for
    nation → market segment — the proportional-reduction-in-error
    association measure that answers the question a413's Cramér's V
    cannot: "by HOW MUCH does knowing the nation improve a modal
    GUESS of the segment" (λ = 0 when the marginal mode already wins
    everywhere, even under strong dependence — which is why both are
    reported in any association audit). Everything is exact BIGINT
    row/column maxima off ONE contingency fold (≤ 25×5 cells), three
    closed-form divisions at the end. One corpus scan, one keyed
    shuffle, 1-row output."""
    c = table(spark, sf_dir, "customer")
    ct = c.groupBy(
        F.col("c_nationkey").alias("x"),
        F.col("c_mktsegment").alias("y"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    rowmax = (
        ct.groupBy("x")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_rowmax"))
    )
    colmax = (
        ct.groupBy("y")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("sum_colmax"))
    )
    ymax = (
        ct.groupBy("y")
        .agg(F.sum("n").alias("s"))
        .agg(F.max("s").cast("bigint").alias("max_y"))
    )
    xmax = (
        ct.groupBy("x")
        .agg(F.sum("n").alias("s"))
        .agg(F.max("s").cast("bigint").alias("max_x"))
    )
    tot = ct.agg(F.sum("n").cast("bigint").alias("nn"))
    out = (
        rowmax.crossJoin(F.broadcast(colmax))
        .crossJoin(F.broadcast(ymax))
        .crossJoin(F.broadcast(xmax))
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        F.col("nn").alias("n_customers"),
        F.round(
            (F.col("sum_rowmax") - F.col("max_y")).cast("double")
            / (F.col("nn") - F.col("max_y")),
            6,
        ).alias("lambda_seg_given_nation_r"),
        F.round(
            (F.col("sum_colmax") - F.col("max_x")).cast("double")
            / (F.col("nn") - F.col("max_x")),
            6,
        ).alias("lambda_nation_given_seg_r"),
        F.round(
            (
                (F.col("sum_rowmax") - F.col("max_y"))
                + (F.col("sum_colmax") - F.col("max_x"))
            ).cast("double")
            / (
                (F.col("nn") - F.col("max_y"))
                + (F.col("nn") - F.col("max_x"))
            ).cast("double"),
            6,
        ).alias("lambda_symmetric_r"),
    )


@query(
    "a519_uncertainty_coefficient",
    oracle="""
WITH ct AS (
  SELECT source AS x, lang AS y, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
), lnn AS (
  SELECT CAST(SUM(n * CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000.0,
                                 0) AS BIGINT)) AS BIGINT) AS s_xy,
         CAST(SUM(n) AS BIGINT) AS nn
  FROM ct
), lx AS (
  SELECT CAST(SUM(s * CAST(ROUND(ln(CAST(s AS DOUBLE)) * 1000000.0,
                                 0) AS BIGINT)) AS BIGINT) AS s_x
  FROM (SELECT x, CAST(SUM(n) AS BIGINT) AS s FROM ct GROUP BY x)
), ly AS (
  SELECT CAST(SUM(s * CAST(ROUND(ln(CAST(s AS DOUBLE)) * 1000000.0,
                                 0) AS BIGINT)) AS BIGINT) AS s_y
  FROM (SELECT y, CAST(SUM(n) AS BIGINT) AS s FROM ct GROUP BY y)
), h AS (
  SELECT nn,
         ln(CAST(nn AS DOUBLE))
           - CAST(s_y AS DOUBLE) / 1000000.0 / nn AS h_y,
         ln(CAST(nn AS DOUBLE))
           - CAST(s_x AS DOUBLE) / 1000000.0 / nn AS h_x,
         (CAST(s_xy AS DOUBLE) / 1000000.0
          - CAST(s_x AS DOUBLE) / 1000000.0
          - CAST(s_y AS DOUBLE) / 1000000.0) / nn
           + ln(CAST(nn AS DOUBLE)) AS mi
  FROM lnn CROSS JOIN lx CROSS JOIN ly
)
SELECT nn AS n_docs,
       round(mi, 6) AS mi_nats_r,
       round(mi / h_y, 6) AS u_lang_given_source_r,
       round(mi / h_x, 6) AS u_source_given_lang_r,
       round(2.0 * mi / (h_x + h_y), 6) AS u_symmetric_r
FROM h
""",
    tags=("inference", "stats"),
)
def a519_uncertainty_coefficient(spark, sf_dir):
    """Theil's uncertainty coefficient U (both directions +
    symmetric) for source → language — the ENTROPY-based PRE measure
    that complements a050's modal lambda (lambda only credits mode
    flips; U credits any probability-mass sharpening) and normalizes
    a368's raw mutual information into "fraction of H(Y) explained".
    Every Σ n·ln n term uses the q156 quantized-ln discipline (ln
    once per contingency cell / margin, micro-quantized to BIGINT
    before the exact sums — cells are bounded by the source×lang
    domain), and MI = (Σ_xy − Σ_x − Σ_y)/N + ln N is algebra on one
    row. One corpus scan, one cell-keyed fold."""
    d = table(spark, sf_dir, "documents")
    ct = d.groupBy(
        F.col("source").alias("x"), F.col("lang").alias("y")
    ).agg(F.count("*").cast("bigint").alias("n"))

    def ln_micro(c):
        return money(F.log(F.col(c).cast("double")), 6)

    lnn = ct.agg(
        F.sum(F.col("n") * ln_micro("n")).cast("bigint").alias("s_xy"),
        F.sum("n").cast("bigint").alias("nn"),
    )
    lx = (
        ct.groupBy("x")
        .agg(F.sum("n").cast("bigint").alias("s"))
        .agg(
            F.sum(F.col("s") * ln_micro("s"))
            .cast("bigint")
            .alias("s_x")
        )
    )
    ly = (
        ct.groupBy("y")
        .agg(F.sum("n").cast("bigint").alias("s"))
        .agg(
            F.sum(F.col("s") * ln_micro("s"))
            .cast("bigint")
            .alias("s_y")
        )
    )
    h = lnn.crossJoin(F.broadcast(lx)).crossJoin(F.broadcast(ly))
    lnN = F.log(F.col("nn").cast("double"))
    h_y = lnN - F.col("s_y").cast("double") / 1000000.0 / F.col("nn")
    h_x = lnN - F.col("s_x").cast("double") / 1000000.0 / F.col("nn")
    mi = (
        F.col("s_xy").cast("double") / 1000000.0
        - F.col("s_x").cast("double") / 1000000.0
        - F.col("s_y").cast("double") / 1000000.0
    ) / F.col("nn") + lnN
    return h.select(
        F.col("nn").alias("n_docs"),
        F.round(mi, 6).alias("mi_nats_r"),
        F.round(mi / h_y, 6).alias("u_lang_given_source_r"),
        F.round(mi / h_x, 6).alias("u_source_given_lang_r"),
        F.round(2.0 * mi / (h_x + h_y), 6).alias("u_symmetric_r"),
    )


@query(
    "a520_cramer_von_mises",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), hist AS (
  SELECT v,
         CAST(COALESCE(SUM(CASE WHEN g = 1 THEN 1 END), 0) AS BIGINT)
           AS c1,
         CAST(COALESCE(SUM(CASE WHEN g = 2 THEN 1 END), 0) AS BIGINT)
           AS c2
  FROM obs GROUP BY v
), cum AS (
  SELECT v, c1, c2,
         CAST(SUM(c1) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS f2,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1,
         CAST(SUM(c2) OVER () AS BIGINT) AS n2
  FROM hist
), terms AS (
  SELECT n1, n2,
         CAST(ROUND((c1 + c2)
           * (CAST(f1 AS DOUBLE) / n1 - CAST(f2 AS DOUBLE) / n2)
           * (CAST(f1 AS DOUBLE) / n1 - CAST(f2 AS DOUBLE) / n2)
           * 1000000000.0, 0) AS BIGINT) AS t_fp
  FROM cum
)
SELECT MAX(n1) AS n_urgent, MAX(n2) AS n_low,
       round(CAST(MAX(n1) AS DOUBLE) * MAX(n2)
             / ((CAST(MAX(n1) AS DOUBLE) + MAX(n2))
                * (CAST(MAX(n1) AS DOUBLE) + MAX(n2)))
             * CAST(SUM(t_fp) AS DOUBLE) / 1000000000.0, 6)
         AS cvm_t_r
FROM terms
""",
    tags=("inference", "stats"),
)
def a520_cramer_von_mises(spark, sf_dir):
    """Two-sample Cramér–von Mises statistic (URGENT vs LOW order
    values) — the INTEGRATED-squared-CDF-distance test that completes
    the two-sample panel: q157's KS reacts to the single worst
    deviation, a047's AD weights the tails, CvM weighs the WHOLE
    curve equally, so sustained small shifts register. The empirical
    CDFs live on one pooled value histogram; each distinct value
    contributes l·(F̂₁−F̂₂)², run once as a double and nano-quantized
    to BIGINT before the exact sum (the per-value count l is the
    correct tie weight — this is the discrete CvM functional). One
    corpus fold, bounded histogram, 1-row readout."""
    o = table(spark, sf_dir, "orders")
    obs = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("v").agg(
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("c1"),
        F.coalesce(F.sum(F.when(F.col("g") == 2, 1)), F.lit(0))
        .cast("bigint")
        .alias("c2"),
    )
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "c1",
        "c2",
        F.sum("c1").over(wc).cast("bigint").alias("f1"),
        F.sum("c2").over(wc).cast("bigint").alias("f2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
    )
    diff = (
        F.col("f1").cast("double") / F.col("n1")
        - F.col("f2").cast("double") / F.col("n2")
    )
    terms = cum.select(
        "n1",
        "n2",
        money((F.col("c1") + F.col("c2")) * diff * diff, 9).alias("t_fp"),
    )
    n1d = F.max("n1").cast("double")
    return terms.agg(
        F.max("n1").alias("n_urgent"),
        F.max("n2").alias("n_low"),
        F.round(
            n1d
            * F.max("n2")
            / ((n1d + F.max("n2")) * (n1d + F.max("n2")))
            * F.sum("t_fp").cast("double")
            / 1000000000.0,
            6,
        ).alias("cvm_t_r"),
    )


@query(
    "a521_ansari_bradley",
    oracle="""
WITH obs AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS g,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), hist AS (
  SELECT v,
         CAST(COALESCE(SUM(CASE WHEN g = 1 THEN 1 END), 0) AS BIGINT)
           AS c1,
         CAST(COALESCE(SUM(CASE WHEN g = 2 THEN 1 END), 0) AS BIGINT)
           AS c2
  FROM obs GROUP BY v
), cum AS (
  SELECT c1, c2,
         2 * CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + (c1 + c2) + 1 AS r2,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1,
         CAST(SUM(c2) OVER () AS BIGINT) AS n2
  FROM hist
), scored AS (
  SELECT n1, n2, c1,
         LEAST(r2, 2 * (n1 + n2 + 1) - r2) AS s2
  FROM cum
), s AS (
  SELECT MAX(n1) AS n1, MAX(n2) AS n2,
         CAST(SUM(c1 * s2) AS BIGINT) AS ab2
  FROM scored
)
SELECT n1 AS n_urgent, n2 AS n_low,
       round(CAST(ab2 AS DOUBLE) / 2.0, 1) AS ab_stat_r,
       round(CASE WHEN (n1 + n2) % 2 = 0 THEN
         (CAST(ab2 AS DOUBLE) / 2.0
          - CAST(n1 AS DOUBLE) * (n1 + n2 + 2) / 4.0)
         / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 2)
                * (n1 + n2 - 2)
                / (48.0 * (CAST(n1 AS DOUBLE) + n2 - 1)))
       ELSE
         (CAST(ab2 AS DOUBLE) / 2.0
          - CAST(n1 AS DOUBLE) * (n1 + n2 + 1) * (n1 + n2 + 1)
            / (4.0 * (CAST(n1 AS DOUBLE) + n2)))
         / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1)
                * (3.0 + (CAST(n1 AS DOUBLE) + n2)
                         * (CAST(n1 AS DOUBLE) + n2))
                / (48.0 * (CAST(n1 AS DOUBLE) + n2)
                   * (CAST(n1 AS DOUBLE) + n2)))
       END, 6) AS z_ab_r
FROM s
""",
    tags=("inference", "stats"),
)
def a521_ansari_bradley(spark, sf_dir):
    """Ansari–Bradley dispersion test (URGENT vs LOW order values) —
    the rank-based scale test whose scores fold in from BOTH ends
    (score = min(rank, N+1−rank)), giving it a different sensitivity
    profile from a044's squared-rank Conover: AB weights center vs
    extreme placement linearly, so it reacts to interquartile
    narrowing that squared ranks over-discount. Doubled midrank
    scores come off one pooled value histogram (s₂ = min(R₂,
    2(N+1)−R₂), exact integers), AB is one weighted fold, and the z
    readout uses the classical even/odd-N null moments (midranks
    under ties, documented — the standard large-sample treatment).
    One corpus fold, bounded histogram, 1-row output."""
    o = table(spark, sf_dir, "orders")
    obs = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(2)
        .alias("g"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("v"),
    )
    hist = obs.groupBy("v").agg(
        F.coalesce(F.sum(F.when(F.col("g") == 1, 1)), F.lit(0))
        .cast("bigint")
        .alias("c1"),
        F.coalesce(F.sum(F.when(F.col("g") == 2, 1)), F.lit(0))
        .cast("bigint")
        .alias("c2"),
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "c1",
        (
            2
            * F.coalesce(
                F.sum(F.col("c1") + F.col("c2")).over(wb), F.lit(0)
            ).cast("bigint")
            + (F.col("c1") + F.col("c2"))
            + 1
        ).alias("r2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
    )
    scored = cum.select(
        "n1",
        "n2",
        "c1",
        F.least(
            F.col("r2"),
            2 * (F.col("n1") + F.col("n2") + 1) - F.col("r2"),
        ).alias("s2"),
    )
    s = scored.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(F.col("c1") * F.col("s2")).cast("bigint").alias("ab2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    ab = F.col("ab2").cast("double") / 2.0
    z_even = (ab - n1d * (F.col("n1") + F.col("n2") + 2) / 4.0) / F.sqrt(
        n1d
        * F.col("n2")
        * (F.col("n1") + F.col("n2") + 2)
        * (F.col("n1") + F.col("n2") - 2)
        / (48.0 * (nd - 1))
    )
    z_odd = (
        ab
        - n1d
        * (F.col("n1") + F.col("n2") + 1)
        * (F.col("n1") + F.col("n2") + 1)
        / (4.0 * nd)
    ) / F.sqrt(
        n1d
        * F.col("n2")
        * (F.col("n1") + F.col("n2") + 1)
        * (3.0 + nd * nd)
        / (48.0 * nd * nd)
    )
    return s.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_low"),
        F.round(ab, 1).alias("ab_stat_r"),
        F.round(
            F.when((F.col("n1") + F.col("n2")) % 2 == 0, z_even).otherwise(
                z_odd
            ),
            6,
        ).alias("z_ab_r"),
    )


@query(
    "a522_map_mrr",
    oracle="""
WITH ranked AS (
  SELECT c_nationkey AS nk,
         CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY c_nationkey
           ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer c
  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
    ON o.o_custkey = c.c_custkey
), cut AS (
  SELECT nk, rel, rk,
         CAST(SUM(rel) OVER (PARTITION BY nk ORDER BY rk
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumrel
  FROM ranked WHERE rk <= 100
), perq AS (
  SELECT nk,
         CAST(COALESCE(SUM(CASE WHEN rel = 1 THEN
           CAST(ROUND(CAST(cumrel AS DOUBLE) / rk
                      * 1000000000.0, 0) AS BIGINT) END), 0)
           AS BIGINT) AS ap_num_fp,
         CAST(COALESCE(SUM(rel), 0) AS BIGINT) AS n_rel,
         MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel
  FROM cut GROUP BY nk
), scored AS (
  SELECT nk,
         CASE WHEN n_rel > 0
              THEN CAST(ROUND(CAST(ap_num_fp AS DOUBLE) / n_rel, 0)
                        AS BIGINT) END AS ap_fp,
         CASE WHEN first_rel IS NOT NULL
              THEN CAST(ROUND(1000000000.0 / first_rel, 0) AS BIGINT)
              END AS rr_fp
  FROM perq
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(ap_fp) AS BIGINT) AS n_with_relevant,
       round(CAST(SUM(ap_fp) AS DOUBLE) / COUNT(ap_fp)
             / 1000000000.0, 6) AS map100_r,
       round(CAST(SUM(rr_fp) AS DOUBLE) / COUNT(rr_fp)
             / 1000000000.0, 6) AS mrr_r
FROM scored
""",
    tags=("inference", "eval"),
)
def a522_map_mrr(spark, sf_dir):
    """MAP@100 and MRR over 25 nation-scoped retrieval runs (rank
    each nation's customers by account balance, relevance = has ever
    ordered) — the two ranking-eval standards q288's NDCG does not
    give: AP integrates precision AT EVERY relevant hit (the
    area-under-PR view), MRR scores only the first hit (the
    navigational view). Precision terms cumrel/rank are run once per
    relevant row and nano-quantized BEFORE the per-query exact sums
    (a437 discipline); per-query AP and RR are re-quantized so the
    cross-query means are exact integer divisions. The rank window
    partitions by nation (distributed), the @100 cutoff bounds every
    downstream fold. One corpus scan + one distinct-buyer
    semi-aggregate."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    buyers = orders.select("o_custkey").distinct().withColumn(
        "rel1", F.lit(1)
    )
    ranked = (
        cust.join(
            buyers.withColumnRenamed("o_custkey", "c_custkey"),
            "c_custkey",
            "left",
        )
        .select(
            F.col("c_nationkey").alias("nk"),
            F.when(F.col("rel1").isNotNull(), 1).otherwise(0).alias(
                "rel"
            ),
            F.row_number()
            .over(
                Window.partitionBy("c_nationkey").orderBy(
                    F.col("c_acctbal").desc(), "c_custkey"
                )
            )
            .alias("rk"),
        )
        .filter(F.col("rk") <= 100)
    )
    wc = Window.partitionBy("nk").orderBy("rk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cut = ranked.select(
        "nk",
        "rel",
        "rk",
        F.sum("rel").over(wc).cast("bigint").alias("cumrel"),
    )
    perq = cut.groupBy("nk").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    money(F.col("cumrel").cast("double") / F.col("rk"), 9),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("ap_num_fp"),
        F.coalesce(F.sum("rel"), F.lit(0)).cast("bigint").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
    )
    scored = perq.select(
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.col("ap_num_fp").cast("double") / F.col("n_rel"), 0
            ).cast("bigint"),
        ).alias("ap_fp"),
        F.when(
            F.col("first_rel").isNotNull(),
            F.round(1000000000.0 / F.col("first_rel"), 0).cast("bigint"),
        ).alias("rr_fp"),
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.count("ap_fp").cast("bigint").alias("n_with_relevant"),
        F.round(
            F.sum("ap_fp").cast("double")
            / F.count("ap_fp")
            / 1000000000.0,
            6,
        ).alias("map100_r"),
        F.round(
            F.sum("rr_fp").cast("double")
            / F.count("rr_fp")
            / 1000000000.0,
            6,
        ).alias("mrr_r"),
    )


def _rbo_rows(p: float = 0.9, depth: int = 50):
    """RBO weights (1−p)·p^(k−1)/k at 1e12 fixed point for k=1..depth,
    generated once in Python and embedded as identical integer
    literals in both plans (a016/a443 recipe)."""
    rows = []
    for k in range(1, depth + 1):
        w = (1.0 - p) * (p ** (k - 1)) / k
        rows.append((k, int(round(w * 1000000000000.0))))
    return rows


_RBO_ROWS = _rbo_rows()
_RBO_VALUES = ", ".join(f"({k}, {w})" for k, w in _RBO_ROWS)


@query(
    "a523_rank_biased_overlap",
    oracle=f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT))
              AS BIGINT) AS qty_cents
  FROM lineitem GROUP BY l_partkey
), two AS (
  SELECT l_partkey,
         row_number() OVER (ORDER BY rev_cents DESC, l_partkey)
           AS r1,
         row_number() OVER (ORDER BY qty_cents DESC, l_partkey)
           AS r2
  FROM per_part
), mm AS (
  SELECT GREATEST(r1, r2) AS m FROM two
  WHERE GREATEST(r1, r2) <= 50
), hist AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS c FROM mm GROUP BY m
), ks(k, w_fp) AS (VALUES {_RBO_VALUES}),
ov AS (
  SELECT k.k, k.w_fp,
         CAST(COALESCE((SELECT SUM(h.c) FROM hist h
                        WHERE h.m <= k.k), 0) AS BIGINT) AS overlap
  FROM ks k
)
SELECT CAST(50 AS BIGINT) AS depth,
       CAST(MAX(overlap) AS BIGINT) AS overlap_at_depth,
       round(CAST(SUM(w_fp * overlap) AS DOUBLE) / 1000000000000.0,
             6) AS rbo_r
FROM ov
""",
    tags=("inference", "eval"),
)
def a523_rank_biased_overlap(spark, sf_dir):
    """Rank-biased overlap (p = 0.9, depth 50) between the
    revenue-ranking and quantity-ranking of parts — the top-weighted
    list-similarity measure built for comparing retrieval runs,
    where q277's Kendall tau treats rank 1 and rank 10,000 swaps
    identically: RBO's geometric weights make the head dominate and
    the truncated-depth sum well-defined for indefinite lists. The
    per-depth set overlap |S_k∩T_k| collapses to a cumulative count
    of max(r1, r2) ≤ k (no per-depth set join); the (1−p)p^(k−1)/k
    weights are a 50-row pico-fixed-point literal table generated
    once in Python, so RBO is ONE exact BIGINT weighted fold. Two
    rank windows over the part summary; everything after is 50
    rows."""
    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice"))
        .cast("bigint")
        .alias("rev_cents"),
        F.sum(money("l_quantity"))
        .cast("bigint")
        .alias("qty_cents"),
    )
    two = per_part.select(
        F.row_number()
        .over(Window.orderBy(F.col("rev_cents").desc(), "l_partkey"))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.col("qty_cents").desc(), "l_partkey"))
        .alias("r2"),
    )
    mm = two.select(
        F.greatest("r1", "r2").alias("m")
    ).filter(F.col("m") <= 50)
    hist = mm.groupBy("m").agg(F.count("*").cast("bigint").alias("c"))
    ks = literal_frame(spark, _RBO_ROWS, "k int, w_fp bigint")
    ov = (
        ks.join(F.broadcast(hist), F.col("m") <= F.col("k"), "left")
        .groupBy("k", "w_fp")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("overlap")
        )
    )
    return ov.agg(
        F.lit(50).cast("bigint").alias("depth"),
        F.max("overlap").cast("bigint").alias("overlap_at_depth"),
        F.round(
            F.sum(F.col("w_fp") * F.col("overlap")).cast("double")
            / 1000000000000.0,
            6,
        ).alias("rbo_r"),
    )


@query(
    "a524_weighted_kappa",
    oracle="""
WITH rng AS (
  SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
), mid AS (
  SELECT lo + (hi - lo) // 2 AS m FROM rng
), act AS (
  SELECT e.user_id,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) < d.m
                           THEN 1 END), 0) AS BIGINT) AS a1,
         CAST(COALESCE(SUM(CASE WHEN epoch_us(e.ts) >= d.m
                           THEN 1 END), 0) AS BIGINT) AS a2
  FROM events e CROSS JOIN mid d
  GROUP BY e.user_id
), lv AS (
  SELECT CASE WHEN a1 < 20 THEN 0 WHEN a1 < 40 THEN 1 ELSE 2 END
           AS l1,
         CASE WHEN a2 < 20 THEN 0 WHEN a2 < 40 THEN 1 ELSE 2 END
           AS l2
  FROM act
), ct AS (
  SELECT l1, l2, CAST(COUNT(*) AS BIGINT) AS n FROM lv GROUP BY 1, 2
), margins AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn FROM ct
), full_ AS (
  SELECT i.l1, j.l2,
         COALESCE(c.n, 0) AS n,
         (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM ct
          WHERE ct.l1 = i.l1) AS row_n,
         (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM ct
          WHERE ct.l2 = j.l2) AS col_n
  FROM (SELECT unnest(generate_series(0, 2)) AS l1) i
  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS l2) j
  LEFT JOIN ct c ON c.l1 = i.l1 AND c.l2 = j.l2
), sums AS (
  SELECT m.nn,
         CAST(SUM((l1 - l2) * (l1 - l2) * n * m.nn) AS BIGINT)
           AS wo_q,
         CAST(SUM((l1 - l2) * (l1 - l2) * row_n * col_n) AS BIGINT)
           AS we_q,
         CAST(SUM(abs(l1 - l2) * n * m.nn) AS BIGINT) AS wo_l,
         CAST(SUM(abs(l1 - l2) * row_n * col_n) AS BIGINT) AS we_l
  FROM full_ CROSS JOIN margins m
  GROUP BY m.nn
)
SELECT nn AS n_users,
       round(1.0 - CAST(wo_q AS DOUBLE) / CAST(we_q AS DOUBLE), 6)
         AS kappa_quadratic_r,
       round(1.0 - CAST(wo_l AS DOUBLE) / CAST(we_l AS DOUBLE), 6)
         AS kappa_linear_r
FROM sums
""",
    tags=("inference", "stats"),
)
def a524_weighted_kappa(spark, sf_dir):
    """Weighted Cohen's kappa (linear + quadratic) for the ordinal
    agreement between each user's first-half and second-half
    engagement TERCILE (low/mid/high activity bands) — the ordinal
    upgrade of a352's unweighted kappa: disagreeing by one band costs
    less than by two, which is what a stability monitor actually
    means by "consistent users". κ_w = 1 − Σw·O/Σw·E with the
    identity that both the observed and expected weighted
    disagreement can be cleared to EXACT integers (O scaled by N,
    E = row×col margins), so each kappa is ONE division; the 3×3
    grid is filled densely so zero cells still contribute their
    expected weight. One corpus fold + broadcast midpoint; ≤9 cells
    at any scale — so the margin/weight tail runs DRIVER-SIDE on the
    collected contingency cells (the q249/a448 recipe: pure BIGINT
    sums, bit-identical), replacing the former grid/margins/moments
    join cascade (5 lattice-sized Spark jobs); the terminal divisions
    + round(6) stay engine-side on the literal frame. An empty corpus
    reproduces the engine's NULL flow (nn = SUM() over zero rows is
    NULL, so the observed sums are NULL while the expected sums are
    0)."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    mid = rng.select((F.col("lo") + F.expr("(hi - lo) div 2")).alias("m"))
    act = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.unix_micros("ts") < F.col("m"), 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("a1"),
            F.coalesce(
                F.sum(F.when(F.unix_micros("ts") >= F.col("m"), 1)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("a2"),
        )
    )

    def band(c):
        return (
            F.when(F.col(c) < 20, 0)
            .when(F.col(c) < 40, 1)
            .otherwise(2)
        )

    lv = act.select(band("a1").alias("l1"), band("a2").alias("l2"))
    ct = lv.groupBy("l1", "l2").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # ≤ 9 rows by construction (3×3 band grid): margins, weights and
    # the four moment sums run driver-side in exact ints
    cells = {(r["l1"], r["l2"]): r["n"] for r in ct.collect()}
    if cells:
        nn = sum(cells.values())
        row_n = {i: sum(cells.get((i, j), 0) for j in range(3))
                 for i in range(3)}
        col_n = {j: sum(cells.get((i, j), 0) for i in range(3))
                 for j in range(3)}
        wo_q = we_q = wo_l = we_l = 0
        for i in range(3):
            for j in range(3):
                dq = (i - j) * (i - j)
                dl = abs(i - j)
                n = cells.get((i, j), 0)
                wo_q += dq * n * nn
                we_q += dq * row_n[i] * col_n[j]
                wo_l += dl * n * nn
                we_l += dl * row_n[i] * col_n[j]
    else:
        # engine NULL flow on an empty corpus: nn = SUM() of no rows
        # is NULL, so observed sums are NULL and expected sums are 0
        nn = wo_q = wo_l = None
        we_q = we_l = 0
    sums = literal_frame(
        spark,
        [(nn, wo_q, we_q, wo_l, we_l)],
        "nn bigint, wo_q bigint, we_q bigint, wo_l bigint, we_l bigint",
    )
    return sums.select(
        F.col("nn").alias("n_users"),
        F.round(
            1.0
            - F.col("wo_q").cast("double") / F.col("we_q").cast("double"),
            6,
        ).alias("kappa_quadratic_r"),
        F.round(
            1.0
            - F.col("wo_l").cast("double") / F.col("we_l").cast("double"),
            6,
        ).alias("kappa_linear_r"),
    )


@query(
    "a525_matthews_corrcoef",
    oracle="""
WITH cell AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN c.c_acctbal > 0
                        AND o.o_custkey IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal > 0
                        AND o.o_custkey IS NULL THEN 1 END), 0)
              AS BIGINT) AS fp,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal <= 0
                        AND o.o_custkey IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS fn_,
         CAST(COALESCE(SUM(CASE WHEN c.c_acctbal <= 0
                        AND o.o_custkey IS NULL THEN 1 END), 0)
              AS BIGINT) AS tn
  FROM customer c
  LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
    ON o.o_custkey = c.c_custkey
)
SELECT tp, fp, fn_ AS fn, tn,
       CASE WHEN tp + fp > 0 AND tp + fn_ > 0 AND tn + fp > 0
                 AND tn + fn_ > 0 THEN
         round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn_)
               / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE)
                      + fn_) * (CAST(tn AS DOUBLE) + fp)
                      * (CAST(tn AS DOUBLE) + fn_)), 6)
       END AS mcc_r,
       CASE WHEN 2 * tp + fp + fn_ > 0 THEN
         round(2.0 * tp / (2.0 * CAST(tp AS DOUBLE) + fp + fn_), 6)
       END AS f1_r,
       CASE WHEN tp + fn_ > 0 AND tn + fp > 0 THEN
         round(0.5 * (CAST(tp AS DOUBLE) / (tp + fn_)
                      + CAST(tn AS DOUBLE) / (tn + fp)), 6)
       END AS balanced_acc_r,
       CASE WHEN tp + fn_ > 0 AND tn + fp > 0 THEN
         round(CAST(tp AS DOUBLE) / (tp + fn_)
               + CAST(tn AS DOUBLE) / (tn + fp) - 1.0, 6)
       END AS youden_j_r
FROM cell
""",
    tags=("inference", "eval"),
)
def a525_matthews_corrcoef(spark, sf_dir):
    """Matthews correlation coefficient + F1 + balanced accuracy +
    Youden's J for the positive-balance → will-order predictor — the
    binary-eval battery that completes the classifier-metric panel
    (q286 grades ranking skill via AUC, q285 calibration; MCC is the
    single-number confusion-matrix summary that stays honest under
    class imbalance, where raw accuracy and even F1 mislead — the
    standard pairing in any model card). One exact 2×2 fold off a
    distinct-buyer semi-aggregate; every metric is a handful of
    once-per-query doubles. 1-row output at any scale."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    buyers = orders.select("o_custkey").distinct().withColumn(
        "bought", F.lit(1)
    )
    j = cust.join(
        buyers.withColumnRenamed("o_custkey", "c_custkey"),
        "c_custkey",
        "left",
    )
    cell = j.agg(
        *[
            F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
            .cast("bigint")
            .alias(nm)
            for nm, cond in (
                (
                    "tp",
                    (F.col("c_acctbal") > 0)
                    & F.col("bought").isNotNull(),
                ),
                (
                    "fp",
                    (F.col("c_acctbal") > 0) & F.col("bought").isNull(),
                ),
                (
                    "fn",
                    (F.col("c_acctbal") <= 0)
                    & F.col("bought").isNotNull(),
                ),
                (
                    "tn",
                    (F.col("c_acctbal") <= 0) & F.col("bought").isNull(),
                ),
            )
        ]
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    tn = F.col("tn").cast("double")
    all_margins = (
        (F.col("tp") + F.col("fp") > 0)
        & (F.col("tp") + F.col("fn") > 0)
        & (F.col("tn") + F.col("fp") > 0)
        & (F.col("tn") + F.col("fn") > 0)
    )
    both_classes = (F.col("tp") + F.col("fn") > 0) & (
        F.col("tn") + F.col("fp") > 0
    )
    # degenerate fixtures (sf0.001: every customer has bought, so the
    # actual-negative margin is empty) yield NULL metrics instead of
    # ANSI divide-by-zero; guard mirrored in the oracle
    return cell.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            all_margins,
            F.round(
                (tp * F.col("tn") - fp * F.col("fn"))
                / F.sqrt(
                    (tp + F.col("fp"))
                    * (tp + F.col("fn"))
                    * (tn + F.col("fp"))
                    * (tn + F.col("fn"))
                ),
                6,
            ),
        ).alias("mcc_r"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                2.0
                * F.col("tp")
                / (2.0 * tp + F.col("fp") + F.col("fn")),
                6,
            ),
        ).alias("f1_r"),
        F.when(
            both_classes,
            F.round(
                0.5
                * (
                    tp / (F.col("tp") + F.col("fn"))
                    + tn / (F.col("tn") + F.col("fp"))
                ),
                6,
            ),
        ).alias("balanced_acc_r"),
        F.when(
            both_classes,
            F.round(
                tp / (F.col("tp") + F.col("fn"))
                + tn / (F.col("tn") + F.col("fp"))
                - 1.0,
                6,
            ),
        ).alias("youden_j_r"),
    )


@query(
    "a526_bland_altman",
    oracle="""
WITH liagg AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount)
                             * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS net_cents
  FROM lineitem GROUP BY l_orderkey
), paired AS (
  SELECT (CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)
           - l.net_cents) // 100 AS d
  FROM orders o JOIN liagg l ON l.l_orderkey = o.o_orderkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS sd_,
         CAST(SUM(d * d) AS BIGINT) AS sdd
  FROM paired
), fit AS (
  SELECT n,
         CAST(sd_ AS DOUBLE) / n AS bias,
         sqrt((CAST(n AS DOUBLE) * sdd - CAST(sd_ AS DOUBLE) * sd_)
              / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0)) AS sd
  FROM m
), outside AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_out
  FROM paired p CROSS JOIN fit f
  WHERE CAST(p.d AS DOUBLE) < f.bias - 1.96 * f.sd
     OR CAST(p.d AS DOUBLE) > f.bias + 1.96 * f.sd
)
SELECT f.n AS n_orders,
       round(f.bias, 6) AS bias_dollars_r,
       round(f.bias - 1.96 * f.sd, 6) AS loa_lower_r,
       round(f.bias + 1.96 * f.sd, 6) AS loa_upper_r,
       round(CAST(o.n_out AS DOUBLE) / f.n, 6) AS frac_outside_r
FROM fit f CROSS JOIN outside o
""",
    tags=("inference", "stats"),
)
def a526_bland_altman(spark, sf_dir):
    """Bland–Altman agreement analysis between the order-header total
    and the discounted lineitem sum — the method-comparison standard
    that a4-family Deming regression complements but does not
    replace: BA reports the BIAS and 95% limits of agreement in the
    measurement's own units, which is what a reconciliation monitor
    acts on (Deming answers "what line relates them", BA answers
    "how far apart do they get"). Per-order differences are exact
    integers, floor-quantized to whole dollars so Σd² stays inside
    BIGINT at any tested sf (the header/net gap is price-scale in
    this fixture), off one lineitem fold + one header join; bias and
    SD come from exact BIGINT moments; the outside-LoA count re-scans
    only the per-order DIFFERENCE summary against a broadcast 1-row
    fit. At 100 TB: one lineitem shuffle on the order key, one
    order-sized pass."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    liagg = li.groupBy("l_orderkey").agg(
        F.sum(money(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))))
        .cast("bigint")
        .alias("net_cents")
    )
    paired = o.join(
        liagg, o.o_orderkey == liagg.l_orderkey
    ).select(
        F.expr(
            "(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)"
            " - net_cents) div 100"
        ).alias("d")
    ).localCheckpoint(eager=False)
    m = paired.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd_"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
    )
    fit = m.select(
        "n",
        (F.col("sd_").cast("double") / F.col("n")).alias("bias"),
        (
            F.sqrt(
                (
                    F.col("n").cast("double") * F.col("sdd")
                    - F.col("sd_").cast("double") * F.col("sd_")
                )
                / F.col("n").cast("double")
                / (F.col("n").cast("double") - 1.0)
            )
        ).alias("sd"),
    )
    dd = F.col("d").cast("double")
    outside = (
        paired.crossJoin(F.broadcast(fit))
        .filter(
            (dd < F.col("bias") - 1.96 * F.col("sd"))
            | (dd > F.col("bias") + 1.96 * F.col("sd"))
        )
        .agg(F.count("*").cast("bigint").alias("n_out"))
    )
    return fit.crossJoin(F.broadcast(outside)).select(
        F.col("n").alias("n_orders"),
        F.round("bias", 6).alias("bias_dollars_r"),
        F.round(F.col("bias") - 1.96 * F.col("sd"), 6).alias(
            "loa_lower_r"
        ),
        F.round(F.col("bias") + 1.96 * F.col("sd"), 6).alias(
            "loa_upper_r"
        ),
        F.round(
            F.col("n_out").cast("double") / F.col("n"), 6
        ).alias("frac_outside_r"),
    )
